"""Bloom-filter benchmark decontamination — the constant-size broadcast path.

operators/decontaminate.py broadcasts the eval suite's DISTINCT SHINGLE SET
(one string per n-gram). That is the right first answer, but the broadcast
grows with the eval suite; at a few hundred MB of bench shingles the
semi-join build side starts to hurt every executor. The classic fix is to
broadcast a Bloom filter of the shingles instead: a FIXED-size bitset
(here 16 Kbit ≈ 2 KB as 256 BIGINT words) with k salted hash probes,
trading a deterministic, tunable false-positive rate (flag a clean doc —
conservative for decontamination, never the reverse: a Bloom filter has no
false negatives, so no contaminated doc escapes).

Spark-first shape:
  * build: the bench side computes its k probe positions AS A DATAFRAME;
    only the distinct bit positions (≤ k × |bench shingles| ints, bounded
    and tiny) reach the driver, which ORs them into the words;
  * probe: the words are a foldable literal array (constant-folded by
    Catalyst into one Literal); each corpus shingle tests k bits with
    JVM-side md5/conv/shift expressions inside whole-stage codegen. The
    corpus side never shuffles anything wider than (doc_id, flag);
  * every probe is ``(word >> bit) & 1`` on SIGNED words — arithmetic
    shift keeps the tested bit regardless of sign fill, so the same
    expression replays bit-identically in any engine with two's-complement
    BIGINTs (the DuckDB oracle inlines the words as a literal list).

Hash family: position_i(sg) = md5(i || '|' || sg)[0:12 hex] mod m — the
same 48-bit md5 prefix trick the KMV sketch and SimHash md5-variant use;
salting by prefix gives k independent probes from one hash family. No
reference counterpart; north-star extension of the dedup family next to
operators/decontaminate.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..dedup.minhash import shingles

DEFAULT_K = 4
DEFAULT_M_BITS = 1 << 14  # 16384 bits = 256 BIGINT words ≈ 2 KB broadcast

FLAG_COL = "contaminated"


def _position(sg: Column, i: int, m_bits: int) -> Column:
    """Probe i's bit position for shingle ``sg`` (BIGINT in [0, m_bits))."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{i}|"), sg)), 1, 12), 16, 10
    ).cast("long")
    return h % m_bits


def bloom_build(
    bench: DataFrame,
    text_col: str,
    n: int = 3,
    k: int = DEFAULT_K,
    m_bits: int = DEFAULT_M_BITS,
) -> list[int]:
    """Bloom words (m_bits/64 SIGNED 64-bit ints) over ``bench``'s distinct
    word n-grams. Only distinct bit positions are collected — bounded by
    min(m_bits, k × |bench shingles|) ints regardless of corpus size."""
    sg = bench.select(F.explode(shingles(text_col, n)).alias("__sg")).distinct()
    pos = (
        sg.select(
            F.explode(
                F.array(*[_position(F.col("__sg"), i, m_bits) for i in range(k)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in pos:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement signed — what a BIGINT column stores
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _words_lit(words: list[int]) -> Column:
    """The signed words as one array<bigint> literal, built in one ``F.expr``
    call rather than one ``F.lit`` (a py4j round trip) per word."""
    return F.expr("array(" + ", ".join(f"{int(w)}L" for w in words) + ")")


def bloom_contamination_flags(
    docs: DataFrame,
    words: list[int],
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = DEFAULT_K,
    m_bits: int = DEFAULT_M_BITS,
) -> DataFrame:
    """All of ``docs`` plus boolean ``contaminated``: true iff ANY word
    n-gram of the doc passes all k Bloom probes. Superset of the exact
    flags (no false negatives); docs shorter than n tokens never flag."""
    assert len(words) == m_bits // 64, (len(words), m_bits)
    warr = _words_lit(words)
    sg = docs.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("__sg"))
    # project word/bit per probe as named columns, then test with an
    # expr-level arithmetic shift (PySpark's shiftright only takes a
    # literal shift amount; the SQL function takes a column)
    proj = [F.col(id_col)]
    for i in range(k):
        p = _position(F.col("__sg"), i, m_bits)
        proj.append(F.element_at(warr, (p / 64).cast("int") + 1).alias(f"__w{i}"))
        proj.append((p % 64).cast("int").alias(f"__b{i}"))
    probe = sg.select(*proj)
    hit = None
    for i in range(k):
        c = F.expr(f"(shiftright(__w{i}, __b{i}) & 1) = 1")
        hit = c if hit is None else (hit & c)
    flagged = (
        probe.filter(hit)
        .select(id_col)
        .distinct()
        .withColumn(FLAG_COL, F.lit(True))
    )
    return docs.join(flagged, id_col, "left").withColumn(
        FLAG_COL, F.coalesce(F.col(FLAG_COL), F.lit(False))
    )
