"""SQL front end — run the reference's Postgres-dialect SQL on Spark SQL.

The reference's entry point is SQL (shell → Binder → Planner → executor,
src/common/bustub_instance.cpp:234-376). Spark SQL already parses the
relational subset; what it cannot parse is the vector-extension surface:

  ARRAY [1.0, 2.0]        Postgres array literal   → array(1.0, 2.0)
  a <-> b                 L2 distance              → l2_dist(a, b)
  a <=> b                 cosine similarity        → cosine_similarity(a, b)
  a <#> b                 inner product            → inner_product(a, b)

:func:`rewrite` performs that translation textually (operands in the
reference grammar are column refs, array literals, or function calls —
handled with balanced-paren scanning, no SQL parser needed) and then
macro-expands ``l2_dist`` / ``cosine_similarity`` / ``inner_product`` calls
into ``fold.sql_distance`` text, the text the DataFrame API's distances
are built from. Expansion (rather than Spark 4 SQL UDFs, which are rejected
inside ORDER BY) means the distance works in any clause and SQL queries get
the exact same Catalyst expressions as the DataFrame API — JVM-side, zero
Python on the data path (asserted in tests/test_sql_frontend.py), though the
higher-order functions are ``CodegenFallback`` (interpreted) in Spark 4.1.2. DDL (CREATE TABLE
with VECTOR(n), INSERT VALUES), EXPLAIN, and SET/SHOW route through
:class:`SqlEngine` to the engine catalog, mirroring ExecuteSql's statement
dispatch (bustub_instance.cpp:295-331).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import Catalog
from .fold import sql_distance
from .index.registry import OPS_TO_DIST

# ---------------------------------------------------------------------------
# textual rewrite
# ---------------------------------------------------------------------------

_ARRAY_LIT = re.compile(r"\bARRAY\s*\[([^\]]*)\]", re.IGNORECASE)

_OPS = {"<->": "l2_dist", "<=>": "cosine_similarity", "<#>": "inner_product"}

_IDENT_CHARS = re.compile(r"[A-Za-z0-9_.]")


def _left_operand(s: str, at: int) -> int:
    """Start index of the operand ending just before position ``at``."""
    i = at - 1
    while i >= 0 and s[i].isspace():
        i -= 1
    if i >= 0 and s[i] == ")":
        depth = 0
        while i >= 0:
            if s[i] == ")":
                depth += 1
            elif s[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        i -= 1  # continue into a preceding function name, if any
    while i >= 0 and _IDENT_CHARS.match(s[i]):
        i -= 1
    return i + 1


def _right_operand(s: str, at: int) -> int:
    """End index (exclusive) of the operand starting at/after position ``at``."""
    i = at
    while i < len(s) and s[i].isspace():
        i += 1
    while i < len(s) and _IDENT_CHARS.match(s[i]):
        i += 1
    j = i
    while j < len(s) and s[j].isspace():
        j += 1
    if j < len(s) and s[j] == "(":
        depth = 0
        while j < len(s):
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
    return i


# distance macros → fold.py's SQL text (native higher-order-function SQL),
# expanded at rewrite time
_MACROS = {"l2_dist": "l2", "inner_product": "ip", "cosine_similarity": "cosine"}


def _split_args(args: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in args:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _expand_macros(sql: str) -> str:
    changed = True
    while changed:
        changed = False
        for fn, dist in _MACROS.items():
            m = re.search(rf"\b{fn}\s*\(", sql)
            if not m:
                continue
            start = m.end() - 1  # position of '('
            depth, i = 0, start
            while i < len(sql):
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                i += 1
            a, b = _split_args(sql[start + 1 : i])
            ca = f"CAST({a} AS ARRAY<DOUBLE>)"
            cb = f"CAST({b} AS ARRAY<DOUBLE>)"
            sql = sql[: m.start()] + sql_distance(dist, ca, cb) + sql[i + 1 :]
            changed = True
    return sql


def rewrite(sql: str) -> str:
    """Reference dialect → Spark SQL: array literals, distance operators,
    then macro-expansion of the distance functions into native HOF SQL."""
    # the reference's libpg_query fork (DuckDB's) tolerates trailing commas
    # in SELECT lists (p3.16-sort-limit.slt) — Spark does not
    sql = re.sub(r",\s+(FROM\b)", r" \1", sql, flags=re.IGNORECASE)
    # the reference's binder lets columns of an UNALIASED derived table be
    # qualified by the underlying base-table name
    # (p3.19: `(SELECT * FROM result WHERE ...) INNER JOIN graph ON
    # result.dst = ...`); Spark requires an alias — supply the base name
    sql = re.sub(
        r"\(\s*(SELECT\b[^()]*?\bFROM\s+(\w+)\b[^()]*)\)(\s*)"
        r"(?=(?:INNER|LEFT|RIGHT|FULL|CROSS|JOIN)\b)",
        r"(\1) AS \2\3",
        sql,
        flags=re.IGNORECASE | re.DOTALL,
    )
    sql = _ARRAY_LIT.sub(lambda m: f"array({m.group(1)})", sql)
    changed = True
    while changed:
        changed = False
        for op, fn in _OPS.items():
            at = sql.find(op)
            if at < 0:
                continue
            ls = _left_operand(sql, at)
            re_ = _right_operand(sql, at + len(op))
            left = sql[ls:at].strip()
            right = sql[at + len(op) : re_].strip()
            sql = f"{sql[:ls]}{fn}({left}, {right}){sql[re_:]}"
            changed = True
    return _expand_macros(sql)


# ---------------------------------------------------------------------------
# statement dispatch (mirrors ExecuteSql, bustub_instance.cpp:295-331)
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_CREATE_INDEX_RE = re.compile(
    # column spec: `col [ops]` for vector indexes, `col, col, ...` for
    # composite scalar indexes (p3.leaderboard-q1: t1(x, y))
    r"^\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*(?:USING\s+(\w+)\s*)?"
    r"\(\s*(\w+)\s*[, ]?\s*(\w+)?\s*\)\s*(?:WITH\s*\((.*?)\))?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# the WITH keys each vector method's build reads (_create_index); any other
# key is refused, so a misspelt option cannot build an index that ignores it
_INDEX_OPTIONS = {
    "ivfflat": frozenset({
        "lists", "probe_lists", "sq8", "pq", "pq_m", "pq_k", "pq_residual",
        "rerank",
    }),
    "hnsw": frozenset({
        "m", "ef_construction", "ef_search", "shards", "n_probe", "sq8", "pq",
        "pq_m", "pq_k", "pq_residual", "bq", "bq_rot_seed", "rerank_mult",
        "rerank_harvest_ef",
    }),
    "vamana": frozenset({
        "shards", "m", "ef_construction", "ef_search", "overlap_eps", "r",
        "min_lists", "alpha", "entry_points", "pq", "pq_m", "pq_k",
        "pq_residual", "pq_cell_books", "cells", "n_probe", "ef_serve",
        "replicate_eps", "replicate_cap",
    }),
}
# WITH keys that only configure another key's tier: key -> the keys one of
# which must be set non-zero beside it (without one the build ignores it)
_PQ_KEYS = {"pq_m": ("pq",), "pq_k": ("pq",), "pq_residual": ("pq",)}
_INDEX_OPTION_NEEDS = {
    "ivfflat": {**_PQ_KEYS, "rerank": ("sq8", "pq")},
    "hnsw": {**_PQ_KEYS, "bq_rot_seed": ("bq",)},
}
# hnsw WITH keys that only the routed build reads -> what they configure
# there; a driver-mode build (no shards, at most HNSW_DRIVER_BUILD_MAX_ROWS
# rows) serves one exact full-precision graph and refuses them
_HNSW_ROUTED_ONLY = {
    "n_probe": "shard probing",
    **dict.fromkeys(
        ("sq8", "pq", "pq_m", "pq_k", "pq_residual", "bq", "bq_rot_seed"),
        "shard codes",
    ),
    "rerank_mult": "rerank serving",
    "rerank_harvest_ef": "rerank serving",
}
_INSERT_ANY_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s+(.*?)\s*$", re.IGNORECASE | re.DOTALL
)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s*(\([a-z,]+\))?\s*(.*)$", re.IGNORECASE | re.DOTALL
)
_TXN_RE = re.compile(r"^\s*(BEGIN|COMMIT|ABORT|ROLLBACK)\s*;?\s*$", re.IGNORECASE)
_SET_RE = re.compile(r"^\s*SET\s+(\w+)\s*=\s*(\S+?);?\s*$", re.IGNORECASE)
_SHOW_RE = re.compile(r"^\s*SHOW\s+(\w+);?\s*$", re.IGNORECASE)
_STRING_FN_RE = re.compile(r"\b(lower|upper)\s*\(([^()]*)\)", re.IGNORECASE)


def _check_string_fn_args(sql: str) -> None:
    """The reference's lower/upper are strictly 1-arg VARCHAR→VARCHAR
    (string_expression.h:33-51; p0.02-function-error.slt). Spark would
    happily cast int→string and ignore nothing — reproduce the stricter
    binder errors for the literal shapes the reference rejects."""
    for m in _STRING_FN_RE.finditer(sql):
        args, parts, cur, in_str = m.group(2), [], [], False
        for ch in args:
            if ch == "'":
                in_str = not in_str
            if ch == "," and not in_str:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur).strip())
        if len(parts) != 1:
            raise ValueError(f"{m.group(1)} expects exactly 1 argument")
        if re.fullmatch(r"[+-]?\d+(\.\d+)?", parts[0]):
            raise ValueError(f"{m.group(1)} expects VARCHAR, got {parts[0]}")
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# ANSI MERGE, upsert form (SQL:2003 §14.9; the lakehouse MERGE INTO):
# UPDATE SET * / INSERT * shorthand only — column-level actions stay the
# batch API's job (operators/cdc.merge_upsert).
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+(\w+)\s+ON\s+(.*?)\s+"
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# delete form: matched target rows are removed (SQL:2003 WHEN MATCHED THEN
# DELETE) — the anti-join rewrite, like DELETE but keyed by another table
_MERGE_DELETE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+(\w+)\s+ON\s+(.*?)\s+"
    r"WHEN\s+MATCHED\s+THEN\s+DELETE;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_columns(cols: str) -> list[tuple[str, str]]:
    """Top-level comma split of 'v1 VECTOR(3), v2 integer' (PRIMARY KEY
    clauses are index metadata in the reference — accepted and ignored)."""
    parts, depth, cur = [], 0, []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out = []
    for p in parts:
        p = p.strip()
        if not p or p.upper().startswith("PRIMARY KEY"):
            continue
        name, type_str = p.split(None, 1)
        out.append((name, type_str.strip()))
    return out


def _strip_comments(sql: str) -> str:
    """Drop `--` line comments (outside single quotes) — the reference's
    parser accepts them inline and on their own lines."""
    out = []
    for ln in sql.splitlines():
        in_str = False
        cut = len(ln)
        for i, ch in enumerate(ln):
            if ch == "'":
                in_str = not in_str
            elif not in_str and ln[i : i + 2] == "--":
                cut = i
                break
        out.append(ln[:cut])
    return "\n".join(out)


def _split_statements(sql: str) -> list[str]:
    """Split on top-level ';' (outside single quotes); drop empties."""
    out, cur, in_str = [], [], False
    for ch in sql:
        if ch == "'":
            in_str = not in_str
        if ch == ";" and not in_str:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [s for s in out if s.strip()]


def bootstrap_test_tables(engine: "SqlEngine") -> None:
    """The reference harness's deterministic pre-created tables
    (TableGenerator::GenerateTestTables, src/catalog/table_generator.cpp:95-101):
    empty_table, test_simple_seq_1 (serial 0..9), test_simple_seq_2
    (serial 0..9 × 10..19). Random-distribution tables (test_1, test_2)
    are not reproducible and are not bootstrapped."""
    engine.catalog.create_table("empty_table", [("colA", "int")])
    engine.catalog.create_table(
        "test_simple_seq_1", [("col1", "int")], rows=[(i,) for i in range(10)]
    )
    engine.catalog.create_table(
        "test_simple_seq_2",
        [("col1", "int"), ("col2", "int")],
        rows=[(i, 10 + i) for i in range(10)],
    )


class SqlEngine:
    """Reference-dialect SQL over Spark: DDL via the catalog, queries via
    spark.sql after :func:`rewrite`. Session vars mirror the reference's
    (`vector_index_method` consumed by index selection)."""

    # CREATE INDEX ... USING hnsw on tables past this size routes to the
    # IVF-routed sharded build (no whole-table driver collect); below it the
    # exact single-graph driver build is both faster and higher-recall.
    HNSW_DRIVER_BUILD_MAX_ROWS = 500_000
    # Auto-shard granularity, chosen from data (was 250k). The r9 CLEAN
    # 600k sweep (drills/shard_ab_600k_clean_r9.json: straggler cap
    # disabled, n_probe following THIS frontend's serving rule
    # max(2, shards//4) so every config probes ~25% of the corpus)
    # settles the r8 contradiction: 25k/24-shards is the RECALL winner
    # (0.984 vs 0.946 at 8k/75-shards) at equal serving time, while 8k
    # keeps only a 2x build-time edge (501 vs 1012s — finer shards dodge
    # the superlinear per-shard build) at a 3.8pt recall cost. The r8
    # "8k dominates every axis" was an n_probe artifact: with n_probe
    # FIXED at 4, 8k probed 5% of the corpus vs 33% for coarse configs
    # and still won — a different contest than what default DDL serves.
    # Coarser than 25k is strictly dominated (recall <=0.83, builds
    # 1.5-1.9x slower uncapped with single-core giant-shard stragglers);
    # the 60k max_shard_rows cap stays essential for exactly that reason.
    HNSW_SHARD_TARGET_ROWS = 25_000
    # ... clamped: a fixed target would mint millions of shards at 10^9+
    # rows (driver centroid k-means and the routing table would become
    # their own problem). Past the clamp, shards grow instead.
    HNSW_MAX_AUTO_SHARDS = 1024
    # QUANTIZED in-graph tiers (bq=1 / pq=1) auto-shard much finer: 1-bit
    # and coded shards are mode-limited — a shard holding several clusters
    # collapses the code resolution no matter how the codes are cut
    # (r9 1.2M × 256-cluster drill at ~25% probed fraction, deep rerank:
    # 25k/48sh BQ 0.406 / local-PQ 0.678; 8k/150sh 0.586 / 0.818;
    # 4.7k/256sh = shards≈clusters: BQ 0.798, local-PQ 0.900 — and the
    # fine build is 4.7x FASTER, 146s vs 680s;
    # drills/drill_1200k_r9_pq_graph_*.json). SQ8 keeps the float target
    # (its decode error is sub-mode: recall 1.0 at every density
    # measured). Same 1024 clamp; past it shards grow and rerank depth is
    # the remaining knob — the DDL automates that (r10): rows/shard over
    # this target stamps params['rerank_mult_default'] scaled to the
    # excess (see the escalation block in _create_index).
    HNSW_SHARD_TARGET_ROWS_QUANTIZED = 5_000
    # pql auto-cells (r12): the mode-structure floor (estimate_modes) may
    # raise the cell count past the rows/cell target, but never below this
    # many rows per cell — thinner in-cell graphs have no walkable
    # structure left
    PQL_MIN_CELL_ROWS = 500

    def _auto_shards(self, n_rows: int, quantized: bool = False) -> int:
        import math as _math

        target = (
            self.HNSW_SHARD_TARGET_ROWS_QUANTIZED
            if quantized
            else self.HNSW_SHARD_TARGET_ROWS
        )
        return max(
            2,
            min(self.HNSW_MAX_AUTO_SHARDS, _math.ceil(n_rows / target)),
        )

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.session_vars: dict[str, str] = {"vector_index_method": "unset"}

    def execute(self, sql: str):
        """Returns a DataFrame for queries, a plan string for EXPLAIN,
        an int rowcount for INSERT/UPDATE/DELETE, None otherwise. Multiple
        ``;``-separated statements run in order (the reference's ExecuteSql
        iterates the parsed statement list); the last result is returned."""
        sql = _strip_comments(sql)
        stmts = _split_statements(sql)
        if not stmts:
            return None
        if len(stmts) > 1:
            out = None
            for s in stmts:
                out = self.execute(s)
            return out
        sql = stmts[0]
        if sql.lstrip().startswith("\\"):
            return self._meta_command(sql.strip())
        _check_string_fn_args(sql)
        m = _TXN_RE.match(sql)
        if m:
            # courtesy txn statements (bustub_ddl.cpp:207-259): the reference
            # shell ACCEPTS begin/commit/abort and answers with a one-cell
            # message (MVCC itself is out of scope — SURVEY §2.4; the
            # reference's own ReconstructTuple is unimplemented). Matching
            # the unmanaged-mode replies beats a parse error.
            word = m.group(1).lower()
            msg = (
                "begin statement is only supported in managed txn mode, "
                "please use bustub-shell"
                if word == "begin"
                else "commit / rollback can only be used with txn"
            )
            return self.spark.createDataFrame([(msg,)], "message string")
        m = _SET_RE.match(sql)
        if m:
            self.session_vars[m.group(1)] = m.group(2).strip("'\"")
            return None
        m = _SHOW_RE.match(sql)
        if m:
            return self.spark.createDataFrame(
                [(m.group(1), self.session_vars.get(m.group(1), ""))],
                "variable string, value string",
            )
        m = _CREATE_RE.match(sql)
        if m:
            self.catalog.create_table(m.group(1), _split_columns(m.group(2)))
            return None
        m = _CREATE_INDEX_RE.match(sql)
        if m:
            return self._create_index(*m.groups())
        m = _INSERT_ANY_RE.match(sql)
        if m:
            rest = m.group(2).strip().rstrip(";").strip()
            if rest.upper().startswith("VALUES"):
                return self._insert(m.group(1), rest[len("VALUES") :])
            if rest.startswith("(") and rest.endswith(")"):
                rest = rest[1:-1].strip()  # insert into t (select ...)
            if rest.upper().startswith("SELECT"):
                return self._insert_select(m.group(1), rest)
            raise ValueError(f"unsupported INSERT form: {sql[:80]}")
        m = _MERGE_RE.match(sql)
        if m:
            return self._merge(m.group(1), m.group(2), m.group(3))
        m = _MERGE_DELETE_RE.match(sql)
        if m:
            return self._merge(m.group(1), m.group(2), m.group(3), delete=True)
        m = _UPDATE_RE.match(sql)
        if m:
            return self._update(m.group(1), m.group(2), m.group(3))
        m = _DELETE_RE.match(sql)
        if m:
            return self._delete(m.group(1), m.group(2))
        m = _EXPLAIN_RE.match(sql)
        if m:
            import io
            from contextlib import redirect_stdout

            # reference modes (bustub_ddl.cpp:154-194): b=binder, p=planner,
            # o=optimizer, s=schema → nearest Spark explain stages
            mode = {
                "(b)": "extended",  # parsed + analyzed logical plans
                "(p)": "extended",
                "(o)": "cost",  # optimized logical plan (+stats)
                "(s)": "formatted",
            }.get((m.group(1) or "").lower(), "formatted")
            df = self.spark.sql(rewrite(m.group(2)))
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode)
            return buf.getvalue()
        return self.spark.sql(rewrite(sql))

    def _meta_command(self, cmd: str):
        """Shell meta-commands (bustub_instance.cpp:256-281): \\dt lists
        tables, \\di lists indexes; others no-op."""
        if cmd.startswith("\\dt"):
            rows = [
                (name, info.schema.simpleString())
                for name, info in sorted(self.catalog.tables.items())
            ]
            return self.spark.createDataFrame(rows or [("", "")], "table string, schema string").filter("table != ''")
        if cmd.startswith("\\di"):
            rows = [
                (i.name, i.table, i.column, i.method, i.dist)
                for infos in getattr(self, "indexes", None)._by_table.values()
                for i in infos
            ] if getattr(self, "indexes", None) else []
            rows += [
                (name, t, c, m, "")
                for name, (t, c, m) in getattr(self, "_scalar_indexes", {}).items()
            ]
            return self.spark.createDataFrame(
                rows or [("", "", "", "", "")],
                "index string, table string, column string, method string, dist string",
            ).filter("index != ''")
        if cmd.startswith("\\help"):
            # ref HandleHelp (bustub_instance.cpp:256-281) prints the shell's
            # command summary; we emit ours as one line per row
            lines = [
                "\\dt                      list tables",
                "\\di                      list indexes (vector + scalar)",
                "\\help                    this message",
                "SET var = value          session variable (vector_index_method)",
                "SHOW var                 show session variable",
                "EXPLAIN (b|p|o|s) stmt   show binder/planner/optimizer/plan IR",
                "CREATE TABLE / CREATE INDEX (USING ivfflat|hnsw ... WITH (k=v))",
                "INSERT / UPDATE / DELETE / SELECT (incl. <->, <=>, inner_product)",
                "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *"
                " WHEN NOT MATCHED THEN INSERT *  (or: WHEN MATCHED THEN DELETE)",
            ]
            return self.spark.createDataFrame([(l,) for l in lines], "help string")
        return None  # \dbgmvcc (MVCC out of scope, SURVEY §2.4)

    def _create_index(self, name, table, method, col, ops, with_opts) -> None:
        """CREATE INDEX (bustub_ddl.cpp:88-152): vector methods bulk-build
        from the current table; scalar methods (hash/bplustree/stl_*) are
        metadata-only — Spark needs no access-path index for their
        semantics (sort/filter/equi-join subsume them)."""
        method = (method or "bplustree").lower()
        if method in _INDEX_OPTIONS:
            from .index.registry import VectorIndexRegistry

            if not hasattr(self, "indexes"):
                self.indexes = VectorIndexRegistry()
            opts = {}
            accepted = _INDEX_OPTIONS[method]
            for kv in (with_opts or "").split(","):
                if not kv.strip():
                    continue
                k, eq, v = (part.strip() for part in kv.partition("="))
                if k not in accepted:
                    # e.g. bq on ivfflat: IVF-BQ codes are an API form
                    # (similarity/ivfcodes.BQCodes) with no DDL spelling
                    raise ValueError(
                        f"{method} has no {k} option (WITH takes "
                        f"{', '.join(sorted(accepted))})"
                    )
                if not eq:
                    raise ValueError(f"{method} option {k} needs a value ({k} = N)")
                try:
                    opts[k] = int(v)
                except ValueError:  # e.g. overlap_eps = 0.2
                    opts[k] = float(v)
            for k, needs in _INDEX_OPTION_NEEDS.get(method, {}).items():
                if k in opts and not any(opts.get(n) for n in needs):
                    raise ValueError(
                        f"{method} option {k} needs "
                        f"{' or '.join(f'{n} = 1' for n in needs)} beside it"
                    )
            df = self.catalog.tables[table].df
            if method == "ivfflat":
                from .index.ivfflat import IVFFlatIndex

                if opts.get("rerank", 1) < 1:
                    raise ValueError(f"rerank must be >= 1 (got {opts['rerank']})")
                idx = IVFFlatIndex.build(
                    df, col,
                    lists=opts.get("lists", 8),
                    probe_lists=opts.get("probe_lists", 1),
                    dist=OPS_TO_DIST.get(ops, "l2"),
                )
                if opts.get("sq8") or opts.get("pq"):
                    # WITH (sq8=1 | pq=1[, pq_m=M, pq_k=K, pq_residual=0]
                    # [, rerank=R]): store codes instead of raw floats on the
                    # probe path; probes score codes and exact-rerank the
                    # top-R shortlist (4×k when R is unset). SQ8: one byte
                    # per dim, every ops class. PQ: m small ints per vector,
                    # l2 only; residual (IVFADC) by default — global
                    # codebooks collapse on clustered corpora (0.128 vs 0.906
                    # recall@10 at 1.2M, drills/drill_1200k_ivf_tiers.json).
                    from .similarity.ivfcodes import IVFCodesIndex, PQCodes, SQ8Codes

                    names = self.catalog.tables[table].schema.names
                    id_col = next((c for c in names if c != col), names[0])
                    form = SQ8Codes() if opts.get("sq8") else PQCodes(
                        m=opts.get("pq_m", 16), k=opts.get("pq_k", 32),
                        residual=bool(opts.get("pq_residual", 1)),
                    )
                    idx = IVFCodesIndex.build(idx, col, id_col, form)
                    idx.default_rerank = opts.get("rerank")
            elif method == "vamana":
                # engine extension (no reference analogue): distributed
                # SINGLE-graph build — DiskANN merge over overlapping
                # clusters (index/vamana.py); all three ops classes
                # (cosine = normalize-then-l2, ip = MIPS augmentation)
                from .index.vamana import VamanaIndex

                names = self.catalog.tables[table].schema.names
                id_col = next((c for c in names if c != col), names[0])
                if opts.get("pq_cell_books") and not opts.get("pq"):
                    # fail at DDL time: per-cell books are a PQ codebook
                    # STRATEGY — without pq=1 the training gate below never
                    # fires, so a typo'd DDL would silently build an
                    # UNQUANTIZED index (while still getting the finer
                    # quantized cell target from _auto_shards)
                    raise ValueError(
                        "pq_cell_books=1 requires pq=1 (per-cell books "
                        "select WHERE the PQ codebooks train, not whether "
                        "to quantize)"
                    )
                idx = VamanaIndex.build(
                    df, col, id_col,
                    shards=opts.get("shards", 4),
                    m=opts.get("m", 8),
                    ef_construction=opts.get("ef_construction", 48),
                    ef_search=opts.get("ef_search", 48),
                    overlap_eps=opts.get("overlap_eps", 0.2),
                    r=opts.get("r", 16),
                    dist=OPS_TO_DIST.get(ops, "l2"),
                    # DiskANN knobs surfaced in round 7 with the clustered-
                    # corpus recall fix: ℓ-closest routing floor + α-prune
                    min_lists=int(opts.get("min_lists", 2)),
                    alpha=float(opts.get("alpha", 1.2)),
                    # multi-entry seed count (default min(512, 4·shards));
                    # entry_points=1 restores the single-medoid walk
                    entry_points=(
                        int(opts["entry_points"])
                        if "entry_points" in opts else None
                    ),
                )
                if opts.get("pq") and opts.get("pq_cell_books"):
                    # WITH (pq=1, pq_cell_books=1[, cells=N]): per-CELL
                    # local codebooks (r11) — the merged graph partitions
                    # FIRST (float shells), then every cell shell trains
                    # books on its own member rows (quantize_pq_local one
                    # tier over). No corpus-wide training pass; the
                    # multi-modal fix at cell granularity. Requires the
                    # partitioned serving shape, so cells are implied.
                    if "pq_residual" in opts and bool(opts["pq_residual"]):
                        raise ValueError(
                            "pq_cell_books=1 and pq_residual=1 are "
                            "different codebook strategies — pick one"
                        )
                elif opts.get("pq"):
                    # WITH (pq=1[, pq_m=M, pq_k=K, pq_residual=0]):
                    # PQ-compressed serving — the search node collects only
                    # m-byte codes; probes rerank exactly against the
                    # parquet vertices. Train on the index's OWN vertices:
                    # cosine/ip builds transform rows (unit/MIPS-augmented),
                    # and codebooks must cover what the walks decode
                    # (quantize_pq enforces). Residual by default (r9):
                    # codes quantize x − entry-cell center, so the codebook
                    # budget resolves within-mode structure instead of
                    # re-separating the modes (the 1.2M drill's
                    # 0.128-vs-0.906 collapse); pq_residual=0 opts out.
                    from .similarity.pq import PQModel

                    has_entries = bool((idx.params or {}).get("entry_ids"))
                    if "pq_residual" in opts and bool(opts["pq_residual"]) and not has_entries:
                        # an EXPLICIT residual request must not silently
                        # downgrade to global codebooks (a single-entry
                        # build has no frozen centers to residualize
                        # against) — fail loud so the user raises
                        # entry_points instead of serving non-residual
                        # codes unawares
                        raise ValueError(
                            "pq_residual=1 requires a multi-entry vamana "
                            "build (entry_points > 1 so entry-cell centers "
                            "exist); this build has none — raise "
                            "entry_points or drop pq_residual"
                        )
                    res = bool(opts.get("pq_residual", 1)) and has_entries
                    if res:
                        model = PQModel.train(
                            idx.residual_source(), "__res", id_col,
                            m=opts.get("pq_m", 16), k=opts.get("pq_k", 32),
                        )
                    else:
                        model = PQModel.train(
                            idx.vertices, "vec", id_col,
                            m=opts.get("pq_m", 16), k=opts.get("pq_k", 32),
                        )
                    idx = idx.quantize_pq(model, residual=res)
                n_rows = df.count()
                # width-aware hand-off: the one-node ceiling depends on
                # what the node holds (PQ codes vs float64 vectors)
                if n_rows > idx.serve_cap() or "cells" in opts or (
                    opts.get("pq") and opts.get("pq_cell_books")
                ) or "replicate_eps" in opts:
                    # replicate_eps implies the partitioned serving shape
                    # (replication is a property of the cell cut) — opting
                    # in via WITH (replicate_eps=E) alone must not be
                    # silently ignored on small tables
                    # EXPLICIT serving hand-off above the one-node ceiling:
                    # the merged artifact is cut into disjoint k-means cell
                    # shells served through the routed ShardedHNSW
                    # machinery (to_partitioned) — same build quality tier,
                    # no node ever materializes the whole graph. WITH
                    # (cells=N[, n_probe=P]) opts in at any size.
                    # per-cell books are mode-limited like every quantized
                    # in-graph tier (granularity law): the auto cell count
                    # uses the FINER quantized target (1.2M drill: pql
                    # 0.918@16 at mode-granularity cells vs 0.726 at
                    # 4-modes/cell)
                    pql = bool(opts.get("pq") and opts.get("pq_cell_books"))
                    auto_cells = self._auto_shards(n_rows, quantized=pql)
                    cells = opts.get("cells", auto_cells)
                    n_probe = opts.get("n_probe", 2)
                    if pql and "cells" not in opts:
                        # r12 (VERDICT r11 #4): the rows/cell target alone
                        # can land the pql tier COARSER than the corpus's
                        # mode structure — exactly where per-cell books
                        # collapse (the 1.2M drill's 0.726@16 at
                        # 4-modes/cell). Floor the auto cell count at the
                        # measured granularity where k-means cells go
                        # unimodal (estimate_modes: inertia-elbow sweep on
                        # a bounded driver sample — the same statistic the
                        # serving cut's own k-means obeys, so cells=est
                        # means unimodal shells by construction). An
                        # unclustered corpus estimates the grid floor (2)
                        # and falls back to the row target untouched.
                        from .index.ivfflat import estimate_modes

                        est = estimate_modes(
                            df, col, id_col,
                            max_modes=self.HNSW_MAX_AUTO_SHARDS,
                        )
                        cells = max(
                            auto_cells,
                            # never below PQL_MIN_CELL_ROWS rows/cell —
                            # past that the in-cell graphs are too thin
                            # to walk
                            min(
                                est,
                                max(2, n_rows // self.PQL_MIN_CELL_ROWS),
                            ),
                        )
                        if cells > auto_cells and "n_probe" not in opts:
                            # a mode-floor raise shrinks every cell; scale
                            # the unpinned probe width so the probed
                            # FRACTION of the corpus holds
                            import math as _math

                            n_probe = max(
                                2, _math.ceil(2 * cells / auto_cells)
                            )
                    idx = idx.to_partitioned(
                        cells=cells,
                        n_probe=n_probe,
                        # shells serve at the PARTITIONED_EF_SERVE beam
                        # floor unless pinned (the in-cell edge
                        # restriction needs deeper beams — 1.2M ef sweep)
                        ef_serve=(
                            int(opts["ef_serve"])
                            if "ef_serve" in opts else None
                        ),
                        # WITH (replicate_eps=E[, replicate_cap=C]):
                        # SPANN closure assignment — boundary vertices
                        # join every cell within (1+E)x of their nearest,
                        # restoring the cross-cell neighborhoods the
                        # in-cell edge restriction drops (r12 stretch)
                        replicate_eps=float(opts.get("replicate_eps", 0.0)),
                        # absent -> REPLICATE_CAP_DEFAULT (one constant
                        # shared with the offline twin)
                        replicate_cap=(
                            int(opts["replicate_cap"])
                            if "replicate_cap" in opts else None
                        ),
                    )
                    if opts.get("pq") and opts.get("pq_cell_books"):
                        # per-cell local books train AFTER the cut (each
                        # shell on its own rows); serve with rerank
                        idx = idx.quantize_pq_local(
                            m=opts.get("pq_m", 16), k=opts.get("pq_k", 32)
                        )
            else:
                from .index.hnsw import HNSWIndex, tier_rerank_mult

                names = self.catalog.tables[table].schema.names
                id_col = next((c for c in names if c != col), names[0])
                common = dict(
                    m=opts.get("m", 8),
                    ef_construction=opts.get("ef_construction", 64),
                    ef_search=opts.get("ef_search", 64),
                    dist=OPS_TO_DIST.get(ops, "l2"),
                )
                n = df.count()
                if n > self.HNSW_DRIVER_BUILD_MAX_ROWS or "shards" in opts:
                    # big table: never collect() it to the driver — IVF-routed
                    # sharded build, probes pruned to the n_probe nearest
                    # shards (the 100 TB shape; hnsw.build_routed)
                    # bq/pq in-graph codes are mode-limited: default to the
                    # finer quantized shard target (see the constant note)
                    shards = opts.get(
                        "shards",
                        self._auto_shards(
                            n, quantized=bool(opts.get("bq") or opts.get("pq"))
                        ),
                    )
                    idx = HNSWIndex.build_routed(df, col, id_col, shards=shards, **common)
                    idx.default_n_probe = opts.get("n_probe", max(2, shards // 4))
                    if opts.get("sq8"):
                        # WITH (sq8=1) on a routed build: shard graphs store
                        # uint8 codes (8× smaller vector payload); serve via
                        # probe(rerank=source) for exact final ordering
                        from .similarity.quantize import dim_stats

                        stats = dim_stats(df, col).orderBy("dim").collect()
                        idx = idx.quantize(
                            [r["mn"] for r in stats], [r["mx"] for r in stats]
                        )
                    elif opts.get("pq"):
                        # WITH (pq=1[, pq_m=M, pq_k=K, pq_residual=0|1]) on
                        # a routed build: shard graphs store product-
                        # quantization codes (m bytes/vector); serve via
                        # probe(rerank=source). Default = per-shard LOCAL
                        # codebooks (quantize_pq_local): the r9 1.2M drill
                        # ordered the tiers local > residual-vs-shard-
                        # centroid > global at every geometry (0.678/0.51/
                        # 0.308 at 48 shards; 0.900 local at the quantized
                        # default granularity) — a shard's own books cover
                        # its modes by construction, and there is no
                        # corpus-wide training pass. pq_residual=1 selects
                        # the global-model residual mode, pq_residual=0
                        # the plain global-codebook mode.
                        from .index.hnsw import routed_residual_df
                        from .similarity.pq import PQModel

                        if "pq_residual" in opts:
                            res = bool(opts.get("pq_residual"))
                            if res:
                                model = PQModel.train(
                                    routed_residual_df(df, col, id_col, idx.centroids),
                                    "__res", id_col,
                                    m=opts.get("pq_m", 16), k=opts.get("pq_k", 32),
                                )
                            else:
                                model = PQModel.train(
                                    df, col, id_col,
                                    m=opts.get("pq_m", 16), k=opts.get("pq_k", 32),
                                )
                            idx = idx.quantize_pq(model, residual=res)
                        else:
                            idx = idx.quantize_pq_local(
                                m=opts.get("pq_m", 16), k=opts.get("pq_k", 32)
                            )
                    elif opts.get("bq"):
                        # WITH (bq=1[, bq_rot_seed=S]) on a routed build:
                        # shard graphs store 1-bit sign codes (dim/8
                        # bytes/vector, the densest tier); serve via
                        # probe(rerank=source). bq_rot_seed adds the
                        # seeded orthonormal rotation before sign-taking —
                        # the anisotropy fix for corpora whose variance
                        # concentrates in few dims (decaying PCA spectra).
                        from .similarity.quantize import dim_stats

                        stats = dim_stats(df, col).orderBy("dim").collect()
                        idx = idx.quantize_bq(
                            [r["mn"] for r in stats],
                            [r["mx"] for r in stats],
                            rotation_seed=opts.get("bq_rot_seed"),
                        )
                    if "rerank_mult" in opts:
                        # EXPLICIT pin: honored on EVERY routed tier (sq8
                        # and unquantized included — probe(rerank=src)
                        # serves the ADC-shortlist + exact-rerank shape on
                        # all of them, and _rerank_mult reads the stamp
                        # tier-independently). Pre-r12 this sat inside the
                        # quantizer gate below, so WITH (sq8=1,
                        # rerank_mult=8) silently dropped the option.
                        rm = int(opts["rerank_mult"])
                        if rm < 1:
                            # fail at DDL time: a 0/negative stamp would
                            # either silently fall through to the tier
                            # default (pre-r11 truthiness read) or walk
                            # for zero candidates
                            raise ValueError(
                                f"rerank_mult must be >= 1 (got {rm})"
                            )
                        idx.params["rerank_mult_default"] = rm
                    elif (opts.get("pq") or opts.get("bq")) and not opts.get("sq8"):
                        # NOTE the not-sq8 gate: the quantizer elif chain
                        # above picks sq8 first, so WITH (sq8=1, pq=1)
                        # builds an SQ8 index — auto-escalating a pq/bq
                        # rerank default onto it would contradict the SQ8
                        # exemption documented below.
                        # past-clamp rerank escalation (r10): at the
                        # 1024-shard clamp, shards grow past the quantized
                        # mode-granularity target again and rerank depth is
                        # the remaining recall knob — measured at 2.2M rows:
                        # BQ rerank_mult 4->16 lifted recall 0.478->0.718 at
                        # IDENTICAL serving wall-clock (the rerank join is
                        # broadcast-sized either way). Scale the default in
                        # proportion to the rows/shard excess, capped at 64;
                        # WITH (rerank_mult=N) pins it, and an explicit
                        # probe-time argument always wins. SQ8 is exempt —
                        # its decode error is sub-mode (recall 1.0 at every
                        # density measured).
                        import math as _math

                        ratio = (n / max(1, shards)) / float(
                            self.HNSW_SHARD_TARGET_ROWS_QUANTIZED
                        )
                        if ratio > 1.0:
                            idx.params["rerank_mult_default"] = min(
                                64,
                                tier_rerank_mult(idx.params) * int(_math.ceil(ratio)),
                            )
                            # past-clamp escalation must deepen the
                            # WALK too (r11): with the visited-set
                            # harvest, a default-ef(48) walk on tiny
                            # past-clamp shards cannot feed the
                            # escalated shortlist — the 6M sweep
                            # measured recall 0.666/0.732/0.762/0.762
                            # at ef 48/96/160/320 (rerank 32), so the
                            # stamp sits at the 160 saturation point:
                            # 0.762 at 41s vs the r10 coupled walk's
                            # 0.762 at 58s (drills/
                            # clamp_rerank_6m_r11.json). WITH
                            # (rerank_harvest_ef=N) pins it; an
                            # explicit probe-time ef always wins.
                            idx.params.setdefault(
                                "rerank_harvest_ef", 160
                            )
                    if "rerank_harvest_ef" in opts:
                        # honored on every routed tier like rerank_mult
                        # (the harvest walk runs whenever rerank serving
                        # is used; _serve_ef reads the stamp
                        # tier-independently)
                        hef = int(opts["rerank_harvest_ef"])
                        if hef < 1:
                            raise ValueError(
                                f"rerank_harvest_ef must be >= 1 (got {hef})"
                            )
                        idx.params["rerank_harvest_ef"] = hef
                else:
                    for opt in opts:
                        if opt in _HNSW_ROUTED_ONLY:
                            # silently dropping these hid misconfigured DDL
                            raise ValueError(
                                f"{opt} configures routed/sharded "
                                f"{_HNSW_ROUTED_ONLY[opt]}, which a driver-"
                                "mode hnsw build has none of — add shards=N "
                                "(or exceed the driver-build row cap) to opt "
                                "into the routed tier"
                            )
                    idx = HNSWIndex.build(df, col, id_col, **common)
            self.indexes.create(
                name, table, col, method, idx,
                ops=ops if ops in OPS_TO_DIST else "vector_l2_ops",
            )
        else:
            self._scalar_indexes = getattr(self, "_scalar_indexes", {})
            self._scalar_indexes[name] = (table, col, method)
        return None

    def _update(self, table: str, set_clause: str, where: str | None) -> int:
        """UPDATE t SET c = expr, ... [WHERE pred] — overwrite rewrite
        (operators.relational.update_rows; emits the affected-row count like
        the reference's UpdateExecutor, p3.03-update.slt)."""
        from pyspark.sql import functions as F

        from .operators.relational import update_rows

        info = self.catalog.tables[table]
        assignments = {}
        for part in _split_args(set_clause):
            col, expr = part.split("=", 1)
            assignments[col.strip()] = F.expr(rewrite(expr.strip()))
        pred = F.expr(rewrite(where)) if where else F.lit(True)
        n = info.df.filter(F.coalesce(pred, F.lit(False))).count()
        new = update_rows(info.df, pred, assignments)
        self.catalog.register(table, new, info.vector_lengths)
        return n

    def _merge(
        self, target: str, source: str, on_clause: str, delete: bool = False
    ) -> int:
        """MERGE INTO t USING s ON t.k = s.k [AND ...] WHEN MATCHED THEN
        UPDATE SET * WHEN NOT MATCHED THEN INSERT * — the upsert rewrite
        (operators/cdc.merge_upsert). Returns the source row count (every
        source row either updates or inserts)."""
        t = self.catalog.tables[target]
        s = self.catalog.tables[source]
        keys = []
        for part in re.split(r"\s+AND\s+", on_clause.strip(), flags=re.IGNORECASE):
            m = re.fullmatch(r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", part.strip())
            if not m:
                raise ValueError(f"unsupported MERGE ON term: {part.strip()}")
            names = {m.group(1): m.group(2), m.group(3): m.group(4)}
            if set(names) != {target, source} or m.group(2) != m.group(4):
                raise ValueError(
                    "MERGE ON terms must equate the same-named column of "
                    f"target and source: {part.strip()}"
                )
            keys.append(m.group(2))
        if delete:
            # WHEN MATCHED THEN DELETE: anti-join rewrite; returns the
            # number of target rows removed (semi-join count)
            n = t.df.join(s.df.select(*keys), keys, "left_semi").count()
            remaining = t.df.join(s.df.select(*keys), keys, "left_anti")
            self.catalog.register(target, remaining, t.vector_lengths)
            return n
        from .operators.cdc import merge_upsert

        if s.df.isStreaming:
            # MERGE INTO t USING <stream>: the source is a STREAMING
            # relation — route through the versioned foreachBatch sink
            # (streaming/cdc_apply) instead of a one-shot join. Each
            # micro-batch broadcast-merges into bucket-partitioned state
            # (availableNow: drain what's staged, then stop — the same
            # trigger contract as the other streaming entries); the final
            # state re-registers as the target table. Per-batch duplicate
            # keys are refused by the sink's merge validation (the
            # streaming analogue of the cardinality check below).
            import tempfile as _tf

            from .streaming.cdc_apply import StreamUpsertSink, apply_stream

            workdir = _tf.mkdtemp(prefix=f"merge_stream_{target}_")
            sink = StreamUpsertSink(
                self.spark, t.df, keys, os.path.join(workdir, "state")
            )
            q = apply_stream(s.df, sink, os.path.join(workdir, "ckpt"))
            q.awaitTermination()
            merged = sink.state_df()
            self.catalog.register(target, merged, t.vector_lengths)
            return merged.count()

        # ANSI MERGE cardinality rule: a target row matching more than one
        # source row is an error, not a silent fan-out
        row = s.df.agg(
            F.count("*").alias("n"), F.countDistinct(*keys).alias("nk")
        ).collect()[0]
        if row["n"] != row["nk"]:
            raise ValueError(
                f"MERGE source {source} has duplicate values for key "
                f"({', '.join(keys)}) — each target row may match at most "
                "one source row"
            )
        merged = merge_upsert(t.df, s.df, keys)
        self.catalog.register(target, merged, t.vector_lengths)
        return row["n"]

    def _delete(self, table: str, where: str | None) -> int:
        """DELETE FROM t [WHERE pred] — anti rewrite
        (operators.relational.delete_rows; emits the deleted-row count like
        the reference's DeleteExecutor, p3.04-delete.slt)."""
        from pyspark.sql import functions as F

        from .operators.relational import delete_rows

        info = self.catalog.tables[table]
        pred = F.expr(rewrite(where)) if where else F.lit(True)
        n = info.df.filter(F.coalesce(pred, F.lit(False))).count()
        new = delete_rows(info.df, pred)
        self.catalog.register(table, new, info.vector_lengths)
        return n

    def _typed(self, table: str, new: DataFrame) -> DataFrame:
        """``new`` cast to ``table``'s schema, columns matched by position."""
        # toDF renames positionally — robust to duplicate source column
        # names (e.g. SELECT ..., 0, 0 FROM, p3.19-integration-2.slt)
        fields = self.catalog.tables[table].schema.fields
        renamed = new.toDF(*[f.name for f in fields])
        return renamed.select(*[F.col(f.name).cast(f.dataType) for f in fields])

    def _append(self, table: str, typed: DataFrame) -> None:
        info = self.catalog.tables[table]
        self.catalog.register(table, info.df.unionByName(typed), info.vector_lengths)

    def _insert(self, table: str, values_clause: str) -> int:
        """INSERT ... VALUES: the driver parsed these rows, so it counts
        and checks them itself. The typed VALUES relation optimizes to a
        local relation, and collecting one runs no Spark job where a
        count() runs two; the casts still fail here, at INSERT."""
        typed = self._typed(
            table, self.spark.sql(f"SELECT * FROM (VALUES {rewrite(values_clause)})")
        )
        rows = typed.collect()
        for col, n in self.catalog.tables[table].vector_lengths.items():
            for r in rows:
                if r[col] is not None and len(r[col]) != n:
                    raise ValueError(
                        f"INSERT INTO {table}: column {col} is VECTOR({n}), "
                        f"got a vector of length {len(r[col])}"
                    )
        self._append(table, typed)
        return len(rows)

    def _insert_select(self, table: str, select_stmt: str) -> int:
        """INSERT ... SELECT: the rows exist only in Spark, so counting
        them is a job (their VECTOR(n) lengths go unchecked: that would be
        another)."""
        typed = self._typed(table, self.spark.sql(rewrite(select_stmt)))
        n = typed.count()
        self._append(table, typed)
        return n
