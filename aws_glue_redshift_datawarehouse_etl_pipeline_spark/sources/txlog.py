"""Transactional table on plain parquet: a versioned commit log with
snapshot-isolated reads, optimistic concurrency, time travel, and
vacuum — the engine's answer to the reference's governed-table
transaction surface (``start_transaction`` / ``commit_transaction`` /
``cancel_transaction``, /root/reference/awsglue/context.py:676-683),
which there delegates to a managed lake-format service.

Design (the public Delta/Iceberg recipe, reduced to its core):

Layout::

    <root>/
      _txlog/
        00000000000000000000.json    # one manifest per committed version
        00000000000000000001.json
      data/
        <txid>/part-*.parquet        # every transaction writes its own dir

A manifest names the live data files (relative paths + Hive partition
values parsed from the path) plus the schema, parent version, and
transaction id — either as the COMPLETE list (a checkpoint: the first
version, every ``checkpoint_interval``-th, overwrites, restores) or as
a DELTA (``adds``/``removes`` against the parent), so a commit to a
million-file table writes O(files-touched) manifest bytes and a reader
replays at most interval-1 deltas past the nearest checkpoint — the
public log-compaction recipe. Readers list ``_txlog/``, take the
highest parseable version, and read exactly the files its materialized
snapshot names — un-manifested bytes are invisible, so a writer crash
at ANY point before the manifest lands leaves only garbage for
``vacuum``, never a torn table.

Commit = atomically claiming the next version file: the manifest is
written with ``FileSystem.create(path, overwrite=False)``, which fails
if the version already exists (HDFS and local semantics; on S3 use a
conditional-PUT or coordination layer, same caveat as Delta). A lost
race surfaces as ``CommitConflictError``; append transactions rebase
onto the new head and retry, overwrite/replace transactions propagate
the conflict because their outcome depends on the snapshot they read.

Isolation: readers never block writers and vice versa; a reader holding
version N keeps a consistent snapshot for as long as vacuum retention
allows. Single-table ACID, like the formats this models — no
cross-table transactions.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_glue_redshift_datawarehouse_etl_pipeline_spark.sources.maintenance import (
    _fs_and_path,
    _read_small_text,
)

__all__ = [
    "TxTable",
    "CommitConflictError",
    "start_transaction",
    "commit_transaction",
    "cancel_transaction",
]

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
# advisory head pointer (no .json suffix: never mistaken for a manifest
# by the version listing or vacuum)
_HEAD_HINT = "_head_hint"
# app_txid entries carried in a checkpoint manifest before the oldest
# are pruned (coverage below the pruning floor falls back to the
# newest-first manifest scan, same bound as vacuum retention)
_TXID_MAP_CAP = 10_000
_VERSION_WIDTH = 20
# manifest format this engine writes and the highest it can read; a
# manifest stamped with a HIGHER version fails loudly instead of being
# misread (the public formats' minReaderVersion protocol)
_FORMAT_VERSION = 1


class CommitConflictError(RuntimeError):
    """Another transaction committed the version this one tried to claim
    and the operation cannot be replayed onto the new head."""


def _vname(version: int) -> str:
    return f"{version:0{_VERSION_WIDTH}d}.json"


def _merge_schema_json(parent_json: str | None, batch_json: str | None) -> str:
    """Additive schema evolution for append/replace commits: the result
    keeps every parent column (in order) and appends the batch's new
    columns. A batch missing a parent column therefore NARROWS NOTHING
    (old columns keep reading, the batch's rows surface NULL there);
    a same-name column with a different type is rejected — changing a
    column's type is an overwrite, not an append."""
    if parent_json is None:
        return batch_json
    parent = T.StructType.fromJson(json.loads(parent_json))
    batch = T.StructType.fromJson(json.loads(batch_json))
    by_name = {f.name: f for f in batch.fields}
    for f in parent.fields:
        b = by_name.get(f.name)
        if b is not None and b.dataType != f.dataType:
            raise ValueError(
                f"append cannot change column '{f.name}' from "
                f"{f.dataType.simpleString()} to {b.dataType.simpleString()}; "
                "use overwrite for type changes"
            )
    merged = list(parent.fields) + [
        f for f in batch.fields if f.name not in {p.name for p in parent.fields}
    ]
    return T.StructType(merged).json()


def _json_safe_stats(stats: dict) -> dict:
    """Manifest stats must survive a JSON round trip with comparison
    semantics intact: numbers and strings pass through; anything else
    (timestamps, decimals) stringifies, and range pruning falls back to
    string comparison for it — conservative but documented."""
    out = {}
    for c, (lo, hi) in stats.items():
        conv = (
            lambda v: v
            if v is None or isinstance(v, (int, float, str, bool))
            else str(v)
        )
        out[c] = [conv(lo), conv(hi)]
    return out


def _next_commit_ms(head: dict | None) -> int:
    """Commit timestamp, forced MONOTONE across versions (the public
    formats' in-commit-timestamp adjustment): max(now, parent + 1).
    Writer clock skew can no longer reorder the history's timestamps,
    which makes timestamp time travel binary-searchable and keeps
    `AS OF` semantics deterministic."""
    now = int(time.time() * 1000)
    return max(now, int((head or {}).get("committed_at_ms", 0)) + 1)


def _parse_parts(rel: str) -> dict[str, str]:
    """Hive ``col=value`` segments of a relative file path, as the writer
    escaped them — comparisons stay on the raw segments so partition-value
    escaping never needs reimplementing here."""
    out: dict[str, str] = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


# SQL-ish lexer for DML condition texts. Order matters: strings before
# identifiers, multi-char comparators before single-char. The final
# catch-all keeps lexing total — unknown characters become OTHER tokens
# whose conjunct simply derives nothing.
_TOKEN_RE = re.compile(
    r"'(?:[^']|'')*'"            # string literal ('' escape)
    r'|"(?:[^"]|"")*"'           # double-quoted literal/identifier ("" escape)
    r"|`[^`]*`"                   # backticked identifier
    r"|[A-Za-z_][A-Za-z_0-9]*"    # identifier / keyword
    r"|\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"  # number
    r"|>=|<=|<>|!=|==|=|<|>|\(|\)"
    r"|\S"                        # anything else
)


def _strip_sql_comments(text: str) -> str | None:
    """Remove SQL comments from a condition text before lexing, or
    return ``None`` when the text cannot be read soundly. The lexer
    itself has no comment rules, and commented-out text is poison for
    derivation: ``a = 1 -- old: AND b = 2`` must NOT derive a bound on
    ``b`` (Spark strips the comment, so files holding a=1, b!=2 rows
    would be pruned and the DML would silently miss them).

    A character scanner, not a regex: ``--`` / ``/*`` inside a string
    literal (single- OR double-quoted — Spark parses ``"x"`` as a
    string by default) or backticked identifier are content, and
    Spark's bracketed comments NEST (``/* a /* b */ c */`` is ONE
    comment) — a non-greedy regex would end at the first ``*/`` and
    resurrect text Spark never sees, which is exactly the unsound
    direction. An unterminated bracketed comment returns ``None``
    (Spark rejects the predicate at parse time anyway, so deriving
    nothing costs nothing). A backslash inside a quoted literal also
    returns ``None``: whether ``\'`` ends the literal depends on
    ``spark.sql.parser.escapedStringLiterals`` (backslash escapes are
    honored by default, literal under that flag), and a scan that
    guesses the wrong mode can end a string early and then strip live
    predicate text as a "comment" — deriving nothing is the only
    reading sound under both configs."""

    if "--" not in text and "/*" not in text:
        return text
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c in ("'", '"'):
            j = i + 1
            while j < n:
                if text[j] == "\\":
                    return None  # escaping mode ambiguity — see docstring
                if text[j] == c:
                    if text.startswith(c * 2, j):
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i : j + 1])
            i = j + 1
        elif c == "`":
            j = text.find("`", i + 1)
            j = n - 1 if j < 0 else j
            out.append(text[i : j + 1])
            i = j + 1
        elif text.startswith("--", i):
            j = text.find("\n", i)
            i = n if j < 0 else j  # the newline survives as whitespace
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if text.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif text.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            if depth:
                return None
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _case_canon(fields):
    """Case-insensitive column canonicalizer that stays sound when two
    schema columns differ only in case (such schemas are creatable —
    ``_merge_schema_json`` merges by exact name). For names whose
    lowercase form is UNIQUE, any case spelling resolves to the
    declared name (Spark's default case-insensitive resolution). For
    colliding names only an EXACT spelling resolves; a case-mismatched
    reference returns ``None`` so the caller derives nothing for it —
    under ``spark.sql.caseSensitive=true`` applying one column's bound
    to the other's stats/Blooms would be unsound pruning."""

    by_lower: dict[str, list[str]] = {}
    for f in fields:
        by_lower.setdefault(f.name.lower(), []).append(f.name)
    unique = {lo: ns[0] for lo, ns in by_lower.items() if len(ns) == 1}
    exact = {f.name for f in fields}

    def canon(name: str):
        if name in exact and name.lower() not in unique:
            return name
        return unique.get(name.lower())

    return canon


def _strip_matched_parens(toks: list[str]) -> list[str]:
    """Remove outer parens iff they form one matched pair around the
    whole slice (the closer of ``(a=1) AND (b=2)``'s first conjunct is
    NOT matched by its opener once split — depth must stay positive in
    between)."""
    while len(toks) >= 2 and toks[0] == "(" and toks[-1] == ")":
        depth = 0
        for i, tk in enumerate(toks):
            depth += tk == "("
            depth -= tk == ")"
            if depth == 0 and i < len(toks) - 1:
                return toks
        toks = toks[1:-1]
    return toks


def _derive_dml_pruning(cond_text: str) -> tuple[dict, dict]:
    """Conservatively derive manifest-level pruning filters FROM the
    DML condition, so an unhinted DELETE/UPDATE still skips files via
    min/max stats and Bloom filters. Soundness over coverage, argued on
    the TOKEN stream (a substring scan is spoofable — ``(a=1)OR(b=2)``
    has no spaced ``" OR "`` yet is a disjunction):

    - the stream splits on AND tokens at paren depth 0. Any OR token at
      depth 0 makes the whole predicate a disjunction (OR binds looser
      than AND) — derivation is disabled entirely. OR / NOT / IN inside
      a deeper group only poison their own conjunct, which then derives
      nothing while its siblings still contribute (``a=1 AND (b=2 OR
      c=3)`` soundly yields a=1). A depth-0 NOT never spans an AND
      split (NOT binds tighter than AND), so it needs no global bail;
    - only a ``column <cmp> literal`` conjunct is read — anything else
      (arithmetic, function calls, column-vs-column, BETWEEN fragments
      — whose split remnants start with a literal, never an identifier
      — and the quoteless literals of a ``Column`` repr) derives
      nothing rather than something wrong;
    - numeric bounds become an INCLUSIVE envelope, correct for min/max
      pruning even when the comparison is strict; string literals
      contribute equality (Bloom) probes only;
    - SQL comments are stripped first (nesting-aware, string-literal
      safe) so commented-out text never contributes a bound; an
      unterminated bracketed comment disables derivation entirely.

    Returns ``(range_filter, equality_filter)`` in LOGICAL column
    names; both may be empty."""

    cleaned = _strip_sql_comments(cond_text)
    if cleaned is None or "\\" in cleaned:
        # Backslash escaping in string literals is config-dependent
        # (`spark.sql.parser.escapedStringLiterals`): the same text
        # denotes different values — or different predicate structure —
        # under the two modes, so any derived probe could be wrong in
        # one of them. Derive nothing.
        return {}, {}
    toks = _TOKEN_RE.findall(cleaned)
    conjuncts: list[list[str]] = [[]]
    depth = 0
    for tk in toks:
        depth += tk == "("
        depth -= tk == ")"
        kw = tk.upper()
        if depth == 0 and kw in ("OR", "BETWEEN"):
            # OR: the top level is a disjunction (OR binds looser than
            # AND). BETWEEN: its AND is not a conjunction, and in
            # Spark's grammar the high bound may itself be a comparison
            # (`flag BETWEEN false AND (c = 5)`) — a split there would
            # read the bound as a conjunct. Both disable derivation.
            return {}, {}
        if depth == 0 and kw == "AND":
            conjuncts.append([])
        else:
            conjuncts[-1].append(tk)
    rf: dict = {}
    eq: dict = {}
    for conj in conjuncts:
        conj = _strip_matched_parens(conj)
        # shape: IDENT CMP LITERAL (optional unary minus on a number)
        if len(conj) == 4 and conj[2] == "-":
            conj = conj[:2] + ["-" + conj[3]]
        if len(conj) != 3:
            continue
        col, op, lit = conj
        if op == "==":
            op = "="
        if op not in (">=", "<=", "=", ">", "<"):
            continue
        if not re.match(r"^[A-Za-z_][A-Za-z_0-9]*$", col):
            continue
        if lit.startswith("'"):
            if op == "=":
                eq[col] = lit[1:-1].replace("''", "'")
            continue
        if not re.match(r"^-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?$", lit):
            continue  # identifier / quoteless Column-repr literal
        val = int(lit) if re.match(r"^-?\d+$", lit) else float(lit)
        lo, hi = rf.get(col, (float("-inf"), float("inf")))
        if op in (">", ">="):
            lo = max(lo, val)
        elif op in ("<", "<="):
            hi = min(hi, val)
        else:
            lo, hi = max(lo, val), min(hi, val)
            eq[col] = val
        rf[col] = (lo, hi)
    return rf, eq


def _cond_text(condition) -> str:
    """The SQL-ish text of a DML condition: the raw string if the
    caller passed one, else the expression inside the Column repr."""

    s = str(condition)
    m = re.match(r"^Column<'(.*)'>$", s, re.DOTALL)
    return m.group(1) if m else s


def _check_dml_hints(condition, hint_groups: dict[str, dict | None]) -> None:
    """Guard for DELETE/UPDATE pruning hints: every hinted column must
    appear (word-boundary, case-insensitive) in the condition's SQL
    text. A hint on a column the predicate never mentions cannot be
    implied by it, and would make matching rows in pruned files
    silently survive the DML. This catches the plainly-wrong hints;
    proving implication for hints that DO mention the column remains
    the caller's contract (documented on delete()/update())."""

    text = str(condition)
    bad = {
        f"{group}[{col!r}]"
        for group, hints in hint_groups.items()
        if hints
        for col in hints
        if not re.search(
            r"(?<![\w`])" + re.escape(str(col)) + r"(?![\w`])", text, re.IGNORECASE
        )
    }
    if bad:
        raise ValueError(
            f"pruning hint(s) {sorted(bad)} reference column(s) that never "
            f"appear in the DML condition {text!r} — such a hint cannot be "
            "implied by the predicate and would silently exempt rows in "
            "pruned files; drop the hint or fold it into the condition"
        )


def _refuse_if_constrained(head: dict, column: str, action: str) -> None:
    """Refuse a metadata-only rename/drop of a column that a persisted
    CHECK constraint references — the constraint expression would
    silently stop binding (rename) or fail to evaluate (drop). A
    conservative word-boundary scan of each expression: false
    positives (the name inside a string literal) err on the safe side.
    Drop or rewrite the constraint first via set_constraints()."""

    cons = dict(head.get("constraints") or {})
    pat = re.compile(r"(?<![\w`])" + re.escape(column) + r"(?![\w`])", re.IGNORECASE)
    hits = sorted(n for n, e in cons.items() if pat.search(e))
    if hits:
        raise ValueError(
            f"cannot {action} column {column!r}: referenced by CHECK "
            f"constraint(s) {hits}; drop or rewrite them first via "
            "set_constraints()"
        )


def _violation_counts(df, cons: dict[str, str]) -> dict[str, int]:
    """Per-constraint violating-row counts over ``df`` (logical-name
    view), in ONE aggregate scan. NULL evaluates as pass (SQL CHECK
    semantics: ``~expr`` of NULL is NULL, which the ``otherwise(0)``
    counts as compliant)."""
    aggs = [
        F.sum(F.when(~F.expr(e), 1).otherwise(0)).alias(n)
        for n, e in cons.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {n: int(row[n]) for n in cons if (row[n] or 0) > 0}


def _live_physical_names(manifest: dict) -> set[str]:
    """Lowercased physical names of every column live in a manifest's
    logical schema (logical name unless the column mapping says
    otherwise)."""
    mapping = dict(manifest.get("column_mapping") or {})
    fields = T.StructType.fromJson(json.loads(manifest["schema"])).fields
    return {mapping.get(f.name, f.name).lower() for f in fields}


def _map_keys(d: dict | None, mapping: dict[str, str]) -> dict | None:
    """Translate a user-facing filter dict's LOGICAL column keys to the
    PHYSICAL names the manifest records (path segments, stats, blooms)."""
    if not d or not mapping:
        return d
    return {mapping.get(k, k): v for k, v in d.items()}


def _prune_files(
    files: list[dict],
    partition_filter: dict[str, object] | None,
    range_filter: dict[str, tuple] | None,
    bloom_probe: dict[str, list[int]] | None = None,
) -> list[dict]:
    """Manifest-level file pruning shared by ``read`` and the DML
    rewrite path: Hive path-segment equality, min/max stats-range
    overlap, and Bloom membership (``bloom_probe`` maps column → a
    LIST of sought values' k-bit probe positions; a file survives the
    column when its Bloom admits ANY of them); files without the
    segment/stats/bloom are conservatively kept."""
    if partition_filter:
        want = {k: str(v) for k, v in partition_filter.items()}
        files = [
            f
            for f in files
            if all(f["parts"].get(k, v) == v for k, v in want.items())
        ]
    if range_filter:

        def may_overlap(f: dict) -> bool:
            stats = f.get("stats") or {}
            for c, (lo, hi) in range_filter.items():
                st = stats.get(c)
                if st is None or st[0] is None or st[1] is None:
                    continue  # unknown — keep conservatively
                try:
                    if st[1] < lo or st[0] > hi:
                        return False
                except TypeError:
                    continue  # bound/stat type mismatch (e.g. a numeric
                    # envelope derived against string stats) — keep
            return True

        files = [f for f in files if may_overlap(f)]
    if bloom_probe:

        def may_contain(f: dict) -> bool:
            bl = f.get("bloom")
            if not bl:
                return True  # no filter recorded — keep conservatively
            if bl.get("m") != bloom_probe["m"] or bl.get("k") != bloom_probe["k"]:
                return True  # written under different sizing — keep
            for c, value_positions in bloom_probe["cols"].items():
                words = (bl.get("cols") or {}).get(c)
                if words is None:
                    continue
                if not any(
                    all(
                        (int(words.get(str(bit // 64), 0)) >> (bit % 64)) & 1
                        for bit in positions
                    )
                    for positions in value_positions
                ):
                    return False  # every sought value definitely absent
            return True

        files = [f for f in files if may_contain(f)]
    return files


class Transaction:
    """One staged write. All bytes land under ``data/<txid>/`` and stay
    invisible until ``commit`` claims the next manifest; ``abort`` (or a
    crash) leaves the table untouched."""

    def __init__(
        self,
        table: "TxTable",
        app_txid: str | None = None,
        app_id: str | None = None,
        app_version: int | None = None,
    ):
        self.table = table
        self.txid = uuid.uuid4().hex
        # Two idempotency surfaces (the public txnAppId pattern):
        # - (app_id, app_version): monotonic per-writer versions (e.g.
        #   foreachBatch batch ids). The head manifest carries the
        #   rolling {app_id: [app_version, commit_version]} map, so the
        #   replay check is ONE map lookup on the already-read head —
        #   O(1) per commit, bounded by the number of distinct writers.
        # - app_txid: arbitrary opaque ids, matched by a newest-first
        #   scan of the retained log — O(versions), for callers whose
        #   ids aren't monotonic.
        # Either way a replayed commit becomes a no-op returning the
        # original version, so an at-least-once caller gets exactly-once
        # table effects. Retention caveat: vacuum that drops the state
        # (old manifests / map via keep_versions) forgets it —
        # retention must exceed the caller's maximum replay window.
        if app_version is not None and app_id is None:
            raise ValueError("app_version requires app_id")
        self.app_txid = app_txid
        self.app_id = app_id
        self.app_version = app_version
        # snapshot this transaction read; overwrite/replace outcomes
        # depend on it, so their commits conflict if the head moves past
        # (single head read serves both the version and the mapping)
        head = table._head_manifest()
        self.read_version = -1 if head is None else head["version"]
        # logical→physical column map at the snapshot: staged frames
        # arrive with LOGICAL names and are written under PHYSICAL ones
        # (frozen at each column's first write), so a rename commit
        # never rewrites data. A concurrent rename conflicts at commit.
        self._mapping: dict[str, str] = dict(
            (head or {}).get("column_mapping") or {}
        )
        self.op: str | None = None
        self._schema_json: str | None = None
        self._partition_keys: list[str] = []
        self._drop_paths: set[str] = set()
        self._committed = False
        self._aborted = False

    # -- staging -----------------------------------------------------------
    @property
    def stage_path(self) -> str:
        return f"{self.table.root}/{_DATA_DIR}/{self.txid}"

    def _stage(self, df: DataFrame, op: str, partition_by: list[str] | None) -> None:
        if self.op is not None:
            raise ValueError("a transaction stages exactly one write")
        self.op = op
        # schema of the FULL row (partition columns included), in
        # LOGICAL names, so reads reconstruct identical frames
        # regardless of physical layout or later renames
        self._schema_json = df.schema.json()
        # write under PHYSICAL names (identity unless renamed). Keys
        # already physical (the DML/compact paths derive them from file
        # path segments) pass through: rename_column refuses to reuse
        # any recorded physical name as a new logical one, so a name is
        # never both.
        renames = {
            c: self._mapping[c]
            for c in df.columns
            if self._mapping.get(c, c) != c
        }
        if renames:
            df = df.select(
                *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
            )
        self._partition_keys = [
            self._mapping.get(k, k) for k in (partition_by or [])
        ]
        writer = df.write.format("parquet").mode("errorifexists")
        if self._partition_keys:
            writer = writer.partitionBy(*self._partition_keys)
        writer.save(self.stage_path)

    def _read_staged(self) -> DataFrame:
        """The just-staged files as a DataFrame in PHYSICAL column
        names — the view ``_attach_stats`` and the constraint check
        scan. The schema is supplied explicitly (the staged frame's
        own schema, renamed through the logical→physical map): schema
        inference re-reads every staged footer on the driver per
        commit (~80-100 ms, r16 guide §5), pure overhead when the
        writer just declared the schema itself. Partition columns ride
        the explicit schema; their values still come from the
        directory names, cast to the declared type (identical to what
        inference produced — stats/blooms exclude partition keys
        regardless)."""
        read = self.table.spark.read
        if self._schema_json is not None:
            logical = T.StructType.fromJson(json.loads(self._schema_json))
            read = read.schema(
                T.StructType(
                    [
                        T.StructField(
                            self._mapping.get(f.name, f.name),
                            f.dataType,
                            f.nullable,
                        )
                        for f in logical.fields
                    ]
                )
            )
        return read.option("basePath", self.stage_path).parquet(self.stage_path)

    def append(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> "Transaction":
        """``partition_by`` lays the appended files out under Hive
        ``col=value`` segments — REQUIRED when the table is partitioned
        and later ``replace_partitions`` / partition-scoped compaction
        must see every file labeled (both guard against unlabeled
        files)."""
        self._stage(df, "append", partition_by)
        return self

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> "Transaction":
        self._stage(df, "overwrite", partition_by)
        return self

    def replace_partitions(self, df: DataFrame, partition_by: list[str]) -> "Transaction":
        """Dynamic partition overwrite: only the partition values present
        in ``df`` are replaced; every other partition survives from the
        parent snapshot."""
        if not partition_by:
            raise ValueError("replace_partitions requires partition columns")
        self._stage(df, "replace_partitions", partition_by)
        return self

    def rewrite(
        self,
        df: DataFrame,
        drop_paths: list[str],
        partition_by: list[str] | None = None,
    ) -> "Transaction":
        """File-level rewrite (the DML primitive): the parent files named
        in ``drop_paths`` are dropped from the manifest and ``df`` is
        staged in their place; every other parent file carries over BY
        REFERENCE — a row-level DELETE/UPDATE commits O(files-touched)
        bytes, never O(table). Depends on the snapshot it read (the
        dropped set came from it), so overwrite conflict semantics
        apply."""
        self._drop_paths = set(drop_paths)
        self._stage(df, "rewrite", partition_by)
        return self

    def _staged_files(self) -> list[dict]:
        fs, jpath = _fs_and_path(self.table.spark, self.stage_path)
        # JVM paths come back scheme-qualified (file:/...), the stage path
        # may not be — split on the data/<txid>/ marker, which is ours
        marker = f"/{_DATA_DIR}/{self.txid}/"
        files = []
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            p = it.next().getPath().toString()
            if not p.split("/")[-1].endswith(".parquet"):
                continue
            rel = p.split(marker, 1)[1]
            files.append(
                {"path": f"{_DATA_DIR}/{self.txid}/{rel}", "parts": _parse_parts(rel)}
            )
        files.sort(key=lambda f: f["path"])
        return self._attach_stats(files)

    def _attach_stats(self, files: list[dict]) -> list[dict]:
        """Per-file data-skipping metadata — min/max for the table's
        ``stats_columns`` AND Bloom words for every ``bloom_columns``
        entry — computed DISTRIBUTED in ONE Spark job per commit (no
        driver-side footer reads, engine-agnostic) and stored in the
        manifest, enabling manifest-level range + equality pruning in
        ``read``. Stats are a grouped min/max pass keyed by
        ``input_file_name``; blooms contribute k = ``bloom_k`` bit
        positions per row per column (xxhash64 with k seeds, mod
        ``bloom_bits``), OR-folded into 64-bit words by a
        (file, column, word) ``bit_or`` aggregate — ≤ bits/64 words per
        file per column, stored sparse. All bloom columns ride ONE
        explode, so commit-time metadata is a FIXED two actions (one
        stats collect, one bloom collect — each tiny, per-file grain)
        no matter how many stats/bloom columns the table declares — at
        a real cluster's commit rate the per-column job chain is the
        fixed overhead that compounds, not the scan of the just-staged
        bytes. No per-file regroup or stats↔bloom join: the two row
        shapes meet driver-side by part-file basename, which a per-job
        UUID makes globally unique. min/max answers range probes;
        blooms answer the high-cardinality EQUALITY probe ('is doc
        123456 in this file?') that ranges can't prune on unsorted
        data."""
        tbl = self.table
        # stats/blooms are recorded under PHYSICAL names — stable across
        # renames, so pre-rename statistics keep pruning forever
        scols = [
            c
            for c in (self._mapping.get(c0, c0) for c0 in tbl.stats_columns)
            if c not in self._partition_keys
        ]
        bcols = [
            c
            for c in (self._mapping.get(c0, c0) for c0 in tbl.bloom_columns)
            if c not in self._partition_keys
        ]
        if not files or not (scols or bcols):
            return files
        df = self._read_staged()
        s_present = [c for c in scols if c in df.columns]
        b_present = [c for c in bcols if c in df.columns]
        if not (s_present or b_present):
            return files
        tagged = df.withColumn("__f", F.input_file_name())
        # part-file names carry a per-job UUID — globally unique, so
        # the basename is a safe join key even across partition
        # directories and input_file_name's URI encoding
        stats_by_name: dict[str, dict] = {}
        blooms_by_name: dict[str, dict[str, dict]] = {}
        if s_present:
            aggs = []
            for c in s_present:
                aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
            for r in tagged.groupBy("__f").agg(*aggs).collect():
                stats_by_name[r["__f"].rsplit("/", 1)[1]] = {
                    c: [r[f"__lo_{c}"], r[f"__hi_{c}"]] for c in s_present
                }
        m, k = tbl.bloom_bits, tbl.bloom_k
        if b_present:
            entries = F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("__c"),
                        F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(m)).alias(
                            "__bit"
                        ),
                    )
                    for ci, c in enumerate(b_present)
                    for i in range(k)
                ]
            )
            bloom_rows = (
                tagged.select("__f", F.explode(entries).alias("__e"))
                .select(
                    "__f",
                    F.col("__e.__c").alias("__c"),
                    (F.col("__e.__bit") / 64).cast("long").alias("__w"),
                    F.expr("shiftleft(1L, CAST(__e.__bit % 64 AS INT))").alias(
                        "__m"
                    ),
                )
                .groupBy("__f", "__c", "__w")
                .agg(F.bit_or("__m").alias("__v"))
                .collect()
            )
            for r in bloom_rows:
                blooms_by_name.setdefault(
                    r["__f"].rsplit("/", 1)[1], {}
                ).setdefault(b_present[r["__c"]], {})[str(r["__w"])] = (
                    r["__v"] & 0xFFFFFFFFFFFFFFFF
                )
        for f in files:
            name = f["path"].rsplit("/", 1)[1]
            st = stats_by_name.get(name)
            if st is not None:
                f["stats"] = _json_safe_stats(st)
            b = blooms_by_name.get(name)
            if b is not None:
                f["bloom"] = {"m": m, "k": k, "cols": b}
        return files

    # -- commit ------------------------------------------------------------
    def commit(self, max_retries: int = 10) -> int:
        """Claim the next version. Appends rebase-and-retry on a lost
        race (their file list is independent of the snapshot they read);
        overwrite/replace conflicts raise ``CommitConflictError``."""
        if self._committed or self._aborted:
            raise ValueError("transaction already finished")
        if self.op is None:
            raise ValueError("nothing staged")
        tbl = self.table
        if self.app_txid is not None:
            prior = tbl.txid_committed_version(self.app_txid)
            if prior is not None:
                return self._finish_as_replay(prior)
        head = tbl._head_manifest()
        # one shared head read: enforcement and the first claim attempt
        # see the same snapshot, and a constraint-free commit pays zero
        # extra manifest I/O
        self._enforce_constraints(head)
        enforced = tbl.effective_constraints(head)
        staged = self._staged_files()
        # carried-forward constraint validation is a full scan of the
        # surviving parent files — cache its green result across retry
        # attempts (keyed on the enforced set AND the carried paths) so
        # an ALTER-ing commit that keeps losing claim races doesn't
        # repeat the scan when neither input changed
        validated_carried: set[tuple[frozenset, frozenset]] = set()
        for attempt in range(max_retries):
            if attempt:
                head = tbl._head_manifest()
                # a concurrent set_constraints() may have landed while
                # this commit was losing races — the staged rows were
                # only validated against the set in force at the first
                # read, so re-enforce before committing under the new
                # head (the retry's manifest also RECORDS the head's
                # set; recording one the rows never passed would let a
                # violating commit slip through)
                now_effective = tbl.effective_constraints(head)
                if now_effective != enforced:
                    self._enforce_constraints(head)
                    enforced = now_effective
            parent_version = -1 if head is None else head["version"]
            parent_files = [] if head is None else tbl._snapshot_files(head)
            app_versions = dict((head or {}).get("app_versions") or {})
            head_mapping = dict((head or {}).get("column_mapping") or {})
            if head_mapping != self._mapping:
                # a rename landed since this transaction staged: its
                # bytes were written under the OLD logical→physical view
                raise CommitConflictError(
                    "column mapping changed concurrently (rename committed "
                    "since this transaction began); restage against the "
                    "new head"
                )
            # An overwrite clears retirement: the new snapshot consists
            # solely of this transaction's staged files, so no live file
            # carries a dropped column's bytes and the physical names are
            # free for reuse (older snapshots keep their own manifests).
            retired = (
                set()
                if self.op == "overwrite"
                else set((head or {}).get("retired_columns") or [])
            )
            if retired and self._schema_json:
                staged_logical = T.StructType.fromJson(
                    json.loads(self._schema_json)
                ).fields
                clash = {
                    f.name
                    for f in staged_logical
                    if self._mapping.get(f.name, f.name).lower()
                    in {r.lower() for r in retired}
                }
                if clash:
                    raise ValueError(
                        f"columns {sorted(clash)} reuse a RETIRED physical "
                        "name (a dropped column's bytes still live in old "
                        "files and would resurrect); pick different names"
                    )
            if self.app_id is not None:
                rec = app_versions.get(self.app_id)
                if rec is not None and rec[0] >= self.app_version:
                    return self._finish_as_replay(rec[1])
            if self.op != "append" and parent_version != self.read_version:
                if not (
                    self.op == "rewrite"
                    and self._only_appends_since(parent_version)
                ):
                    raise CommitConflictError(
                        f"table advanced from version {self.read_version} to "
                        f"{parent_version} since this {self.op} transaction "
                        "began"
                        + (
                            " (an intermediate commit removed or replaced "
                            "files — a rewrite rebases over pure appends "
                            "only)"
                            if self.op == "rewrite"
                            else ""
                        )
                    )
            if self.op == "append":
                removes: list[str] = []
                files = parent_files + staged
                schema_json = _merge_schema_json(
                    (head or {}).get("schema"), self._schema_json
                )
            elif self.op == "overwrite":
                removes = [f["path"] for f in parent_files]
                files = staged
                schema_json = self._schema_json
            elif self.op == "rewrite":
                removes = sorted(self._drop_paths)
                files = [
                    f for f in parent_files if f["path"] not in self._drop_paths
                ] + staged
                schema_json = _merge_schema_json(
                    (head or {}).get("schema"), self._schema_json
                )
            else:  # replace_partitions
                keys = self._partition_keys
                unlabeled = [
                    f
                    for f in parent_files
                    if any(f["parts"].get(k) is None for k in keys)
                ]
                if unlabeled:
                    raise ValueError(
                        f"replace_partitions on keys {keys} requires every live "
                        f"file to carry those partition path segments, but "
                        f"{len(unlabeled)} parent file(s) (e.g. "
                        f"{unlabeled[0]['path']}) were written without them — "
                        "their rows could silently survive the replacement. "
                        "Compact or rewrite the table partitioned first."
                    )
                replaced = {tuple(f["parts"][k] for k in keys) for f in staged}
                removes = [
                    f["path"]
                    for f in parent_files
                    if tuple(f["parts"].get(k) for k in keys) in replaced
                ]
                files = [
                    f
                    for f in parent_files
                    if tuple(f["parts"].get(k) for k in keys) not in replaced
                ] + staged
                schema_json = _merge_schema_json(
                    (head or {}).get("schema"), self._schema_json
                )
            # A commit that RECORDS a different constraint set than its
            # parent persisted (a handle constructed with constraints=
            # acting as the ALTER) must validate the carried-forward
            # files against the new set — ADD CONSTRAINT semantics, the
            # same scan set_constraints() runs. Staged files were
            # already enforced above; only surviving parent files need
            # the check, and only on the (rare) set-changing commit.
            parent_cons = dict((head or {}).get("constraints") or {})
            if enforced != parent_cons and enforced:
                staged_paths = {f["path"] for f in staged}
                carried = [f for f in files if f["path"] not in staged_paths]
                vkey = (
                    frozenset(enforced.items()),
                    frozenset(f["path"] for f in carried),
                )
                if carried and vkey not in validated_carried:
                    bad = _violation_counts(
                        tbl._files_to_df(
                            carried,
                            T.StructType.fromJson(json.loads(schema_json)),
                            self._mapping,
                        ),
                        enforced,
                    )
                    if bad:
                        self.abort()
                        raise ValueError(
                            "this commit records a CHECK constraint set the "
                            f"table's existing rows violate: {bad} "
                            "(violating-row counts); fix the data first or "
                            "align the handle's constraints= with the "
                            "persisted set; transaction aborted"
                        )
                    validated_carried.add(vkey)
            if self.app_id is not None:
                app_versions[self.app_id] = [self.app_version, parent_version + 1]
            next_version = parent_version + 1
            # checkpoint policy: the first commit, overwrites (their full
            # list IS the delta), and every interval-th version carry the
            # complete list; everything else writes O(touched) deltas —
            # unless the delta encoding is no smaller than the full list
            # (a full compaction's removes name every parent file), in
            # which case the full list costs the same bytes and lets
            # vacuum reclaim without walking a replay chain
            ival = tbl.checkpoint_interval
            full = (
                head is None
                or self.op == "overwrite"
                or ival <= 0
                or next_version % ival == 0
                or len(staged) + len(removes) >= len(files)
            )
            manifest = {
                "format_version": _FORMAT_VERSION,
                "version": next_version,
                "parent": parent_version,
                "op": self.op,
                "txid": self.txid,
                "app_txid": self.app_txid,
                "app_versions": app_versions,
                "schema": schema_json,
                "partition_keys": self._partition_keys,
                "column_mapping": self._mapping,
                "retired_columns": sorted(retired),
                "constraints": tbl.effective_constraints(head),
                "committed_at_ms": _next_commit_ms(head),
            }
            if full:
                manifest["files"] = files
                # checkpoint manifests also carry the rolled-up
                # app_txid → version map (delta manifests contribute
                # their single `app_txid` field), so idempotent-replay
                # lookup walks ≤ interval manifests instead of the
                # whole retained log
                tmap, floor = tbl._txid_map(head)
                if self.app_txid is not None:
                    tmap[self.app_txid] = next_version
                if len(tmap) > _TXID_MAP_CAP:
                    kept = sorted(tmap.items(), key=lambda kv: kv[1])[
                        -_TXID_MAP_CAP:
                    ]
                    tmap = dict(kept)
                    floor = max(floor, min(tmap.values()))
                manifest["app_txids"] = tmap
                manifest["app_txids_floor"] = floor
            else:
                manifest["adds"] = staged
                manifest["removes"] = removes
            if tbl._try_write_manifest(manifest):
                self._committed = True
                return manifest["version"]
            if tbl._repair_torn(parent_version + 1):
                continue  # crashed writer's torn claim removed — retry
            if self.op not in ("append", "rewrite"):
                raise CommitConflictError(
                    f"version {parent_version + 1} was claimed by another "
                    f"transaction; {self.op} depends on the snapshot it read"
                )
            # append always retries; rewrite retries too — the next
            # iteration's conflict check decides whether the claimer's
            # commit was a pure append (rebase) or a real conflict
        raise CommitConflictError(f"{self.op} lost {max_retries} commit races")

    def _only_appends_since(self, parent_version: int) -> bool:
        """True iff every commit between this transaction's snapshot and
        ``parent_version`` was a pure append (or a ``set_constraints``
        metadata commit — file list unchanged, and the retry path
        re-enforces its new set on the staged rows). The rewrite then
        REBASES onto the new head: under write-serializable semantics it
        serializes BEFORE those appends — its hit scan read none of
        their files — so the rebased list (new parent files minus this
        rewrite's drops plus its stages) is exactly the
        rewrite-then-append serial outcome, and concurrent ingest can no
        longer starve compaction or DML. Any other intermediate op may
        have removed or replaced a file this rewrite read (its staged
        output would resurrect or duplicate those rows) — genuine
        conflict."""
        for v in range(self.read_version + 1, parent_version + 1):
            m = self.table._read_manifest(v)
            if m is None or m.get("op") not in ("append", "set_constraints"):
                return False
        return True

    def _enforce_constraints(self, head: dict | None) -> None:
        """Validate the table's CHECK constraints against the STAGED
        rows (one scan of the just-written local bytes, logical-name
        view). The enforced set is the EFFECTIVE one — the handle's
        declared constraints if it was constructed with any, else the
        set persisted in the head manifest — so a writer that knows
        nothing about the constraints still enforces them. ANY
        violation aborts the transaction — the table never sees the
        bytes. NULL evaluates as pass (SQL CHECK semantics)."""
        cons = self.table.effective_constraints(head)
        if not cons:
            return
        inv = {p: l for l, p in self._mapping.items()}
        df = self._read_staged()
        df = df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])
        bad = _violation_counts(df, cons)
        if bad:
            self.abort()
            raise ValueError(
                f"CHECK constraint(s) violated by staged rows: {bad} "
                "(violating-row counts); transaction aborted"
            )

    def _finish_as_replay(self, prior_version: int) -> int:
        """Replay of an already-committed transaction: drop the
        re-staged bytes, report the original commit."""
        self.abort()
        self._aborted, self._committed = False, True
        return prior_version

    def abort(self) -> None:
        """Drop the staged bytes; the table never saw them."""
        if self._committed:
            raise ValueError("cannot abort a committed transaction")
        fs, jpath = _fs_and_path(self.table.spark, self.stage_path)
        if fs.exists(jpath):
            fs.delete(jpath, True)
        self._aborted = True


class TxTable:
    """Handle on a commit-log table rooted at ``root``.

    ``torn_grace_seconds``: a manifest file that exists but does not
    parse is a crashed writer's torn claim. Writers repair (delete) it
    once it is older than this grace period — long enough that a LIVE
    writer's in-flight create/write/close (sub-second) is never
    mistaken for a crash."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        torn_grace_seconds: float = 60.0,
        stats_columns: list[str] | None = None,
        bloom_columns: list[str] | None = None,
        bloom_bits: int = 4096,
        bloom_k: int = 5,
        checkpoint_interval: int = 10,
        constraints: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.torn_grace_seconds = torn_grace_seconds
        # columns whose per-file min/max are recorded in every commit's
        # manifest (one extra narrow pass over the staged bytes) and
        # consulted by read(range_filter=...) for manifest-level file
        # skipping — the data-skipping statistics of the public formats
        self.stats_columns = list(stats_columns or [])
        # columns carrying a per-file Bloom filter in the manifest
        # (~bloom_bits/8 bytes per file per column), consulted by
        # read(equality_filter=...) — prunes high-cardinality equality
        # probes min/max can't. Size m for the expected distinct values
        # per file: FPR ≈ (1 - e^(-k·n/m))^k; the 4096/5 default stays
        # under ~2% at n ≈ 500.
        self.bloom_columns = list(bloom_columns or [])
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k
        # CHECK constraints: name → SQL boolean over LOGICAL column
        # names, enforced on every transaction's STAGED rows at commit
        # (one scan of the just-written local bytes — carried-over
        # files were validated when they were written; a DML rewrite
        # re-validates its rewritten output). A violation aborts the
        # transaction: the table never sees the bytes.
        #
        # Constraints are TABLE METADATA, persisted in every commit's
        # manifest so EVERY writer enforces them — a handle constructed
        # without constraints= picks up the set persisted at head. A
        # non-None constructor arg is the initial/ALTER declaration: the
        # handle enforces and records that set on its next commit, and
        # the commit that first RECORDS a changed set validates the
        # carried-forward files against it (ADD CONSTRAINT semantics —
        # same scan as set_constraints(validate=True)); pass {} to drop
        # all constraints (see also set_constraints()).
        self._constraints_arg = (
            None if constraints is None else dict(constraints)
        )
        # manifests are DELTAS (adds/removes against the parent) except
        # every checkpoint_interval-th version, overwrites, and restores,
        # which carry the full file list — so a commit to a million-file
        # table writes O(files-touched) manifest bytes, not O(table), and
        # a reader replays at most interval-1 deltas past a checkpoint.
        # 0 disables deltas (every manifest full).
        self.checkpoint_interval = checkpoint_interval
        # version → raw manifest JSON text. A manifest that PARSED AS
        # COMMITTED is immutable forever (commit claims a version by
        # whole-file create, never rewrite; vacuum may DELETE old
        # versions but never changes bytes), so caching its text is
        # sound for any handle lifetime — it turns snapshot resolution
        # (head probe + delta-chain replay + time travel + txid lookup)
        # from O(chain) filesystem round trips PER READ into O(new
        # manifests) per handle. Missing/torn reads are never cached
        # (they may become valid the instant a writer finishes), and
        # the text is re-parsed per call so callers can freely mutate
        # the returned dict. Eviction scope: only a SELF-vacuum evicts
        # what it deletes — a version vacuumed by ANOTHER handle or
        # process still resolves from this handle's cache, so time
        # travel to it serves the (immutable, correct-as-of-then)
        # snapshot instead of failing fast with "no manifest" the way
        # an uncached handle would; the underlying data files may
        # already be gone by read time. Accepted stale-read semantics
        # for an immutable log: cross-process cache invalidation would
        # need a coordination channel the log deliberately avoids.
        self._manifest_text_cache: dict[int, str] = {}

    def _snapshot_files(self, m: dict) -> list[dict]:
        """Materialize the complete live-file list for a manifest:
        full manifests return theirs; delta manifests replay the chain
        forward from the nearest checkpoint ancestor (removes then adds
        per delta, insertion order preserved — identical to the list a
        full manifest would have recorded)."""
        chain: list[dict] = []
        cur = m
        while "files" not in cur:
            chain.append(cur)
            parent = self._read_manifest(cur["parent"])
            if parent is None:
                raise IOError(
                    f"manifest chain broken: version {cur['version']}'s parent "
                    f"{cur['parent']} is missing — vacuum retention must keep "
                    "every delta back to a checkpoint"
                )
            cur = parent
        files = {f["path"]: f for f in cur["files"]}
        for d in reversed(chain):
            for p in d.get("removes", ()):
                files.pop(p, None)
            for f in d.get("adds", ()):
                files[f["path"]] = f
        return list(files.values())

    # -- log access --------------------------------------------------------
    def _log_path(self) -> str:
        return f"{self.root}/{_LOG_DIR}"

    def _manifest_versions(self) -> list[int]:
        fs, jpath = _fs_and_path(self.spark, self._log_path())
        if not fs.exists(jpath):
            return []
        out = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def _read_manifest(self, version: int) -> dict | None:
        text = self._manifest_text_cache.get(version)
        if text is None:
            fs, _ = _fs_and_path(self.spark, self.root)
            jvm = self.spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(
                self._log_path(), _vname(version)
            )
            if not fs.exists(jpath):
                return None
            text = _read_small_text(fs, jvm, jpath)
        try:
            m = json.loads(text)
        except ValueError:
            return None  # torn write of the head — treated as uncommitted
        if m is not None and m.get("version") == version:
            # parsed as committed — immutable from here on, safe to cache
            self._manifest_text_cache[version] = text
        if m is not None and int(m.get("format_version", 1)) > _FORMAT_VERSION:
            # NOT torn: a future writer's manifest. Falling back to an
            # older version would silently serve a stale snapshot.
            raise IOError(
                f"manifest {version} requires reader format "
                f"{m.get('format_version')}; this engine reads up to "
                f"{_FORMAT_VERSION}"
            )
        return m if m.get("version") == version else None

    def _head_manifest(self) -> dict | None:
        """Latest committed manifest. Fast path: start from the head
        hint and probe FORWARD (hint + lag reads, no directory
        listing — the difference between O(1) and O(versions) per
        commit on a long-lived table). Probing stops at the first
        version with no valid manifest: committed manifests are
        immutable and version v+1 is only ever claimed after v parsed
        for its writer, so no valid manifest exists beyond a gap. Any
        hint problem — absent (pre-hint table), unparseable (torn hint
        write), or pointing at a vacuumed version — falls back to the
        full listing."""
        hint = self._read_head_hint()
        if hint is not None:
            m = self._read_manifest(hint)
            if m is not None:
                while True:
                    nxt = self._read_manifest(m["version"] + 1)
                    if nxt is None:
                        return m
                    m = nxt
        for v in reversed(self._manifest_versions()):
            m = self._read_manifest(v)
            if m is not None:
                return m
        return None

    def effective_constraints(self, head: dict | None = None) -> dict[str, str]:
        """The CHECK constraint set this handle enforces and records:
        the constructor's declaration if one was given (the
        initial/ALTER value), else the set persisted in the head
        manifest — so constraints bind every writer of the table, not
        just the handle that declared them."""
        if self._constraints_arg is not None:
            return dict(self._constraints_arg)
        if head is None:
            head = self._head_manifest()
        return dict((head or {}).get("constraints") or {})

    def set_constraints(
        self, constraints: dict[str, str], validate: bool = True
    ) -> int:
        """ALTER the persisted CHECK constraint set as a METADATA-ONLY
        commit (pass ``{}`` to drop all constraints). Existing rows ARE
        validated against the new set first — the public formats' ADD
        CONSTRAINT semantics: a table whose data violates its own
        constraints would wedge every later layout rewrite (compaction
        and DML re-stage old rows through the same enforcement).
        ``validate=False`` skips the scan; violating history then
        survives unflagged and those rewrites WILL refuse until the
        constraint is dropped — an explicit trade the caller owns.
        Subsequent commits by ANY handle enforce the new set. Conflicts
        like an overwrite if the head moves concurrently (the validated
        snapshot is exactly the one constrained: a lost claim race
        raises rather than constraining unseen data)."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if validate and constraints:
            bad = _violation_counts(self.read(), constraints)
            if bad:
                raise ValueError(
                    f"existing rows violate CHECK constraint(s): {bad} "
                    "(violating-row counts); fix the data first, or pass "
                    "validate=False to constrain future writes only "
                    "(layout rewrites of the violating files will then "
                    "refuse until the constraint is dropped)"
                )
        tx = self.begin()
        manifest = {
            "format_version": _FORMAT_VERSION,
            "version": head["version"] + 1,
            "parent": head["version"],
            "op": "set_constraints",
            "txid": tx.txid,
            "app_txid": None,
            "app_versions": dict(head.get("app_versions") or {}),
            "schema": head["schema"],
            "partition_keys": list(head.get("partition_keys") or []),
            "column_mapping": dict(head.get("column_mapping") or {}),
            "retired_columns": list(head.get("retired_columns") or []),
            "constraints": dict(constraints),
            **dict(zip(("app_txids", "app_txids_floor"), self._txid_map(head))),
            "files": self._snapshot_files(head),
            "committed_at_ms": _next_commit_ms(head),
        }
        if not self._try_write_manifest(manifest):
            raise CommitConflictError(
                f"version {manifest['version']} was claimed concurrently"
            )
        self._constraints_arg = dict(constraints)
        return manifest["version"]

    def _repair_torn(self, version: int) -> bool:
        """Delete the manifest file for ``version`` iff it exists, does
        NOT parse (torn write from a crashed claimer), and is older than
        the grace period. Without this, a torn head would block every
        future claim of that version number forever."""
        if self._read_manifest(version) is not None:
            return False  # valid manifest — a real concurrent commit
        fs, _ = _fs_and_path(self.spark, self.root)
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self._log_path(), _vname(version))
        if not fs.exists(jpath):
            return False
        st = fs.getFileStatus(jpath)
        age_s = (time.time() * 1000 - st.getModificationTime()) / 1000.0
        if age_s < self.torn_grace_seconds:
            return False  # possibly a live writer mid-create
        fs.delete(jpath, False)
        return True

    def _local_log_dir(self) -> str | None:
        """The log directory as a plain local path when the table lives
        on the local filesystem, else None."""
        root = self._log_path()
        if root.startswith("file:"):
            root = root[len("file:"):]
        return root if root.startswith("/") else None

    def _try_write_manifest(self, manifest: dict) -> bool:
        """Atomic claim of a version. On HDFS-like filesystems,
        ``create(overwrite=False)`` is the namenode-atomic claim. On
        the LOCAL filesystem, Hadoop's RawLocalFileSystem implements
        overwrite=False as exists-check-then-create — a TOCTOU race
        (r16): two concurrent claimers of the same version could BOTH
        pass the check, interleave their writes into one file, and
        leave a manifest whose .crc sidecar doesn't match (observed
        once as a ChecksumException under the DML query's four
        concurrent appends). Local tables therefore claim with a
        kernel-atomic O_CREAT|O_EXCL open instead: exactly one claimer
        wins, the loser sees FileExistsError and rebases. The winner
        writes the bytes directly (no .crc sidecar — ChecksumFileSystem
        skips verification when none exists; any stale sidecar from a
        pre-fix torn create is removed with the claim)."""
        local_dir = self._local_log_dir()
        if local_dir is not None:
            os.makedirs(local_dir, exist_ok=True)
            vname = _vname(manifest["version"])
            target = os.path.join(local_dir, vname)
            try:
                fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                os.write(fd, json.dumps(manifest).encode("utf-8"))
            finally:
                os.close(fd)
            crc = os.path.join(local_dir, f".{vname}.crc")
            if os.path.exists(crc):
                try:
                    os.remove(crc)
                except OSError:
                    pass
            self._write_head_hint(manifest["version"])
            return True
        fs, _ = _fs_and_path(self.spark, self.root)
        jvm = self.spark._jvm
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(self._log_path()))
        jpath = jvm.org.apache.hadoop.fs.Path(
            self._log_path(), _vname(manifest["version"])
        )
        try:
            out = fs.create(jpath, False)
        except Exception:  # noqa: BLE001 — FileAlreadyExists via py4j
            return False
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        self._write_head_hint(manifest["version"])
        return True

    def _write_head_hint(self, version: int) -> None:
        """Best-effort O(1) head pointer (the public formats'
        `_last_checkpoint` pattern): written AFTER the exclusive-create
        claim succeeds, to a temp file that is then renamed over the
        hint, so a reader sees the old hint or the new one, never a
        torn one. Local tables take the same plain-file fast path as
        ``_try_write_manifest`` (write + ``os.replace``, no ``.crc``
        sidecar); other filesystems use Hadoop ``create`` + ``rename``,
        deleting the old hint first where rename does not overwrite.
        A stale or race-clobbered hint can only UNDERSTATE the head
        (the reader probes forward) or point at a vacuumed version (the
        reader falls back to the full listing) — correctness never
        depends on it, so failures are swallowed."""
        tmp_name = f"{_HEAD_HINT}.{uuid.uuid4().hex}.tmp"
        payload = str(version).encode("utf-8")
        local_dir = self._local_log_dir()
        if local_dir is not None:
            tmp = os.path.join(local_dir, tmp_name)
            try:
                with open(tmp, "wb") as fh:
                    fh.write(payload)
                os.replace(tmp, os.path.join(local_dir, _HEAD_HINT))
                # a hint once written through Hadoop left a checksum
                # sidecar that no longer matches the renamed file
                crc = os.path.join(local_dir, f".{_HEAD_HINT}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
            except OSError:  # hints are advisory
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            return
        try:
            fs, _ = _fs_and_path(self.spark, self.root)
            P = self.spark._jvm.org.apache.hadoop.fs.Path
            tmp = P(self._log_path(), tmp_name)
            dst = P(self._log_path(), _HEAD_HINT)
            out = fs.create(tmp, True)
            try:
                out.write(bytearray(payload))
            finally:
                out.close()
            if not fs.rename(tmp, dst):
                fs.delete(dst, False)
                if not fs.rename(tmp, dst):
                    fs.delete(tmp, False)
        except Exception:  # noqa: BLE001 — hints are advisory
            pass

    def _read_head_hint(self) -> int | None:
        local_dir = self._local_log_dir()
        if local_dir is not None:
            try:
                with open(os.path.join(local_dir, _HEAD_HINT), "rb") as fh:
                    return int(fh.read().strip())
            except (OSError, ValueError):  # absent or unreadable = no hint
                return None
        try:
            fs, _ = _fs_and_path(self.spark, self.root)
            jvm = self.spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(self._log_path(), _HEAD_HINT)
            if not fs.exists(jpath):
                return None
            return int(_read_small_text(fs, jvm, jpath).strip())
        except Exception:  # noqa: BLE001 — unreadable hint = no hint
            return None

    # -- public surface ----------------------------------------------------
    def begin(
        self,
        app_txid: str | None = None,
        app_id: str | None = None,
        app_version: int | None = None,
    ) -> Transaction:
        return Transaction(
            self, app_txid=app_txid, app_id=app_id, app_version=app_version
        )

    def _txid_map(self, head: dict | None) -> tuple[dict, int]:
        """Effective app_txid → version map at ``head`` plus its
        coverage floor (every commit with version ≥ floor that carried
        an app_txid is in the map). Reconstructed the same way
        ``_snapshot_files`` materializes file lists: the delta chain's
        own ``app_txid`` fields replayed over the nearest checkpoint's
        rolled-up map. A pre-map checkpoint covers only itself, so its
        floor is its own version."""
        if head is None:
            return {}, 0
        entries: dict = {}
        cur = head
        while "files" not in cur:
            if cur.get("app_txid"):
                entries.setdefault(cur["app_txid"], cur["version"])
            parent = self._read_manifest(cur["parent"])
            if parent is None:
                raise IOError(
                    f"manifest chain broken: version {cur['version']}'s "
                    f"parent {cur['parent']} is missing"
                )
            cur = parent
        if cur.get("app_txids") is not None:
            base = dict(cur["app_txids"])
            floor = int(cur.get("app_txids_floor", 0))
        else:
            base = {}
            floor = cur["version"]  # pre-map checkpoint: covers itself only
        if cur.get("app_txid"):
            base[cur["app_txid"]] = cur["version"]
        base.update(entries)
        return base, floor

    def txid_committed_version(self, app_txid: str) -> int | None:
        """Version committed under ``app_txid``, or None. O(interval)
        for the retained-map era: the delta chain's own fields plus the
        nearest checkpoint's rolled-up ``app_txids`` map; only txids
        older than the map's pruning floor (or predating the map
        feature) fall back to the newest-first scan of the retained
        log."""
        head = self._head_manifest()
        if head is None:
            return None
        tmap, floor = self._txid_map(head)
        v = tmap.get(app_txid)
        if v is not None:
            return v
        for v in reversed([x for x in self._manifest_versions() if x < floor]):
            m = self._read_manifest(v)
            if m is not None and m.get("app_txid") == app_txid:
                return v
        return None

    def current_version(self) -> int:
        head = self._head_manifest()
        return -1 if head is None else head["version"]

    def exists(self) -> bool:
        return self.current_version() >= 0

    def _bloom_probe(
        self,
        schema: T.StructType,
        equality_filter: dict[str, object],
        mapping: dict[str, str] | None = None,
    ) -> dict:
        """Probe bit positions for each sought value, computed by the
        SAME expression the build used (xxhash64 over the column's
        declared type, k seeds, mod m) — ONE 1-row Spark job covering
        every column AND every value, so the two sides can never
        disagree on hashing and a multi-key point lookup costs the same
        fixed overhead as a single-key one. A column may map to one
        value or a list of values (a file is kept when its Bloom admits
        ANY of them — the IN-list complement of the scalar probe).
        Probe keys are PHYSICAL names (blooms are recorded under them;
        physical names never change, so pre-rename blooms stay
        valid)."""
        mapping = mapping or {}
        m, k = self.bloom_bits, self.bloom_k
        exprs = []
        nvals: dict[str, int] = {}
        for idx, (c, v) in enumerate(equality_filter.items()):
            dt = schema[c].dataType
            vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
            if not vals:
                raise ValueError(
                    f"equality_filter[{c!r}] is an empty list — an IN-() "
                    "probe matches nothing; drop the key or pass values"
                )
            nvals[c] = len(vals)
            exprs += [
                F.pmod(
                    F.xxhash64(F.lit(vv).cast(dt), F.lit(i)), F.lit(m)
                ).alias(f"c{idx}__{j}__{i}")
                for j, vv in enumerate(vals)
                for i in range(k)
            ]
        row = self.spark.range(1).select(*exprs).collect()[0]
        return {
            "m": m,
            "k": k,
            "cols": {
                mapping.get(c, c): [
                    [row[f"c{idx}__{j}__{i}"] for i in range(k)]
                    for j in range(nvals[c])
                ]
                for idx, c in enumerate(equality_filter)
            },
        }

    def version_as_of(self, timestamp_ms: int) -> int:
        """Highest committed version whose commit time is at or before
        ``timestamp_ms`` — timestamp-based time travel (`AS OF
        TIMESTAMP`). Raises if the table didn't exist yet at that time
        or the version has been vacuumed. Commit times are forced
        monotone at write (max(now, parent+1) — the in-commit-timestamp
        adjustment of the public formats), so the lookup BINARY-SEARCHES
        the retained version range: O(log versions) manifest reads, not
        one per version. A transient torn manifest mid-search falls
        back to the exact linear scan."""
        vs = self._manifest_versions()
        lo, hi, best = 0, len(vs) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            m = self._read_manifest(vs[mid])
            if m is None:  # torn claim in flight — take the exact path
                best = None
                for v in vs:
                    mm = self._read_manifest(v)
                    if mm is not None and mm.get("committed_at_ms", 0) <= timestamp_ms:
                        best = v
                break
            if m.get("committed_at_ms", 0) <= timestamp_ms:
                best = vs[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            raise FileNotFoundError(
                f"no version committed at or before {timestamp_ms} ms at "
                f"{self.root} (earliest retained commit is newer, or the "
                "table did not exist)"
            )
        return best

    def read(
        self,
        version: int | None = None,
        partition_filter: dict[str, object] | None = None,
        range_filter: dict[str, tuple] | None = None,
        equality_filter: dict[str, object] | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot read: exactly the files the manifest names, with the
        manifest's schema (column order stable across layouts). Files
        from partitioned commits are read per commit directory with
        ``basePath`` so ``col=value`` reconstruction works, then the
        groups union by name — group count is O(live commits), tiny.

        ``partition_filter`` prunes at the MANIFEST, before Spark ever
        lists or opens a file: ``{"bucket": 1}`` keeps only files whose
        Hive path segment matches ``bucket=1``. On an object store this
        is the difference between one small JSON read and a LIST over
        the whole table — the same job manifest-level pruning does in
        the public table formats. Values are matched against the
        writer-escaped path segment (str(value)); files from
        unpartitioned commits carry no such segment and are kept only
        when no filter key applies to them — so filter keys must be
        the table's partition columns to mean what you expect.

        ``range_filter`` ``{col: (lo, hi)}`` additionally skips files
        whose recorded min/max (``stats_columns`` at write time) cannot
        intersect ``[lo, hi]``; ``equality_filter`` ``{col: value}`` —
        or ``{col: [v1, v2, …]}`` for a multi-key lookup — skips files
        whose Bloom filter (``bloom_columns`` at write time) proves
        every sought value absent: N point probes cost ONE probe job
        and ONE scan instead of N reads unioned. Files without
        stats/bloom for a column are conservatively KEPT, and the
        returned frame is NOT re-filtered (file skipping, not row
        filtering; apply the row predicate too when exact bounds
        matter)."""
        if as_of_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ms, not both")
            version = self.version_as_of(as_of_ms)
        m = self._head_manifest() if version is None else self._read_manifest(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed version{'' if version is None else f' {version}'} "
                f"at {self.root}"
            )
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        mapping = dict(m.get("column_mapping") or {})
        probe = (
            self._bloom_probe(schema, equality_filter, mapping)
            if equality_filter
            else None
        )
        files = _prune_files(
            self._snapshot_files(m),
            _map_keys(partition_filter, mapping),
            _map_keys(range_filter, mapping),
            probe,
        )
        return self._files_to_df(files, schema, mapping)

    def _files_to_df(
        self,
        files: list[dict],
        schema: T.StructType,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """One DataFrame over exactly the manifest files given, with the
        manifest schema imposed (shared by ``read`` and the DML rewrite
        path so both see identical rows for the same file set).
        ``mapping`` is the manifest's logical→physical column map: the
        files carry PHYSICAL names (frozen at each column's first
        write), the returned frame LOGICAL ones — a renamed column
        reads correctly from every file ever written."""
        mapping = mapping or {}
        if not files:
            return self.spark.createDataFrame([], schema)
        cols = [fld.name for fld in schema.fields]
        phys = {c: mapping.get(c, c) for c in cols}
        phys_schema = T.StructType(
            [T.StructField(phys[f.name], f.dataType, f.nullable) for f in schema.fields]
        )
        parts: list[DataFrame] = []
        # ALL unpartitioned files are one multi-path scan with the
        # manifest schema imposed (missing columns from older commits
        # read as nulls) — a 200-append table plans ONE scan node, not
        # 200; only partitioned commits need their own basePath group
        # for col=value reconstruction.
        flat = sorted(f"{self.root}/{f['path']}" for f in files if not f["parts"])
        if flat:
            parts.append(
                self.spark.read.schema(phys_schema)
                .parquet(*flat)
                .select(*[F.col(phys[c]).alias(c) for c in cols])
            )
        by_commit: dict[str, list[str]] = {}
        for f in files:
            if not f["parts"]:
                continue
            commit_dir = "/".join(f["path"].split("/")[:2])  # data/<txid>
            by_commit.setdefault(commit_dir, []).append(f"{self.root}/{f['path']}")
        for commit_dir, paths in sorted(by_commit.items()):
            df = (
                self.spark.read.option("basePath", f"{self.root}/{commit_dir}")
                .parquet(*sorted(paths))
            )
            # head-schema columns this (older) commit predates read NULL
            have = set(df.columns)
            parts.append(
                df.select(
                    *[
                        F.col(phys[c]).cast(schema[c].dataType).alias(c)
                        if phys[c] in have
                        else F.lit(None).cast(schema[c].dataType).alias(c)
                        for c in cols
                    ]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def detail(self) -> dict:
        """DESCRIBE DETAIL: operational metadata of the head snapshot —
        version, file count, total bytes, partition columns (logical),
        column mapping, retired columns, live transaction dirs — all
        from the manifest plus one file-status pass, no data read."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        files = self._snapshot_files(head)
        fs, _ = _fs_and_path(self.spark, self.root)
        P = self.spark._jvm.org.apache.hadoop.fs.Path
        total = 0
        for f in files:
            p = P(f"{self.root}/{f['path']}")
            if fs.exists(p):
                total += fs.getFileStatus(p).getLen()
        mapping = dict(head.get("column_mapping") or {})
        inv = {v: k for k, v in mapping.items()}
        return {
            "version": head["version"],
            "num_files": len(files),
            "size_bytes": total,
            "partition_columns": [
                inv.get(k, k) for k in (head.get("partition_keys") or [])
            ],
            "column_mapping": mapping,
            "retired_columns": list(head.get("retired_columns") or []),
            "constraints": dict(head.get("constraints") or {}),
            "num_live_txids": len({f["path"].split("/")[1] for f in files}),
            "checkpoint_interval": self.checkpoint_interval,
        }

    def maybe_compact(
        self,
        max_files: int = 64,
        num_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Auto-compaction policy: compact only when the live file
        count exceeds ``max_files`` (the OPTIMIZE-on-threshold loop a
        scheduler runs after every ingest burst). Returns the new
        version, or None when below threshold — a no-op costs one
        manifest read."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if len(self._snapshot_files(head)) <= max_files:
            return None
        return self.compact(num_files=num_files, zorder_by=zorder_by)

    def history(self) -> list[dict]:
        """Commit metadata per version (no file lists), oldest first."""
        out = []
        for v in self._manifest_versions():
            m = self._read_manifest(v)
            if m is not None:
                out.append({k: m[k] for k in ("version", "parent", "op", "txid")})
        return out

    # -- convenience one-shot writes --------------------------------------
    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        return self.begin().append(df, partition_by).commit()

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        return self.begin().overwrite(df, partition_by).commit()

    def replace_partitions(self, df: DataFrame, partition_by: list[str]) -> int:
        return self.begin().replace_partitions(df, partition_by).commit()

    def merge(self, df: DataFrame, keys: list[str]) -> int:
        """Upsert through the log (the reference's mergeDynamicFrame
        semantics, dynamicframe.py:80-124, on a transactional snapshot):
        head rows whose key matches an incoming row are replaced, the
        rest survive, committed as one overwrite — readers see the
        pre-merge or post-merge snapshot, never a mix. Overwrite
        conflict semantics apply: if the head moves between the read
        and the commit, the merge conflicts rather than losing the
        concurrent write."""
        tx = self.begin()
        if self.exists():
            head = self.read()
            merged = head.join(
                df.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(df)
        else:
            merged = df
        return tx.overwrite(merged).commit()

    # -- row-level DML (minimal-file rewrite) ------------------------------
    def _dml_rewrite(
        self,
        condition: Column,
        transform,
        partition_filter: dict[str, object] | None,
        range_filter: dict[str, tuple] | None,
        equality_filter: dict[str, object] | None = None,
    ) -> int:
        """Shared DELETE/UPDATE engine. Three-stage narrowing so the
        commit is O(files that actually contain matching rows):
        manifest pruning (partition/stats hints, zero I/O) → one
        predicate-pushed scan of the candidates tagging each row with
        its file → rewrite ONLY the hit files through ``transform``,
        carrying every other live file into the new manifest by
        reference. The pruning hints follow ``read``'s contract: they
        must be implied by ``condition``, or rows in pruned files
        silently escape the DML — as a guard, every hint column must at
        least APPEAR in the condition (word-boundary scan of its SQL
        text; refuses hints the predicate plainly cannot imply, though
        it cannot prove implication)."""
        _check_dml_hints(
            condition,
            {
                "partition_filter": partition_filter,
                "range_filter": range_filter,
                "equality_filter": equality_filter,
            },
        )
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        mapping = dict(head.get("column_mapping") or {})
        # derive pruning from the condition itself (sound conjuncts
        # only, restricted to schema columns) and intersect with any
        # caller hints — an unhinted `delete("id >= 150")` skips files
        # through min/max stats and Blooms exactly like the hinted
        # spelling, canonicalized through _case_canon to the declared
        # case the stats/blooms are recorded under.
        _canon = _case_canon(schema.fields)
        drf, deq = _derive_dml_pruning(_cond_text(condition))
        rng = {_canon(c): b for c, b in drf.items() if _canon(c)}
        deq = {_canon(c): v for c, v in deq.items() if _canon(c)}
        for c, b in (range_filter or {}).items():
            lo0, hi0 = rng.get(c, (float("-inf"), float("inf")))
            rng[c] = (max(lo0, b[0]), min(hi0, b[1]))
        eqs = {**deq, **(equality_filter or {})}
        # a probe is a 1-row Spark job: build it only when the caller
        # probed explicitly, or a derived equality can meet a recorded
        # Bloom filter
        probe = (
            self._bloom_probe(schema, eqs, mapping)
            if eqs and (equality_filter or self.bloom_columns)
            else None
        )
        cands = _prune_files(
            self._snapshot_files(head),
            _map_keys(partition_filter, mapping),
            _map_keys(rng, mapping) if rng else None,
            probe,
        )
        if not cands:
            return head["version"]
        # part-file basenames carry a per-job UUID — globally unique, so
        # basename is a safe key across commit dirs (same invariant
        # _attach_stats relies on)
        hits = {
            r["__f"].rsplit("/", 1)[1]
            for r in (
                self._files_to_df(cands, schema, mapping)
                .withColumn("__f", F.input_file_name())
                .filter(condition)
                .select("__f")
                .distinct()
                .collect()
            )
        }
        touched = [f for f in cands if f["path"].rsplit("/", 1)[1] in hits]
        if not touched:
            return head["version"]
        key_orders = {tuple(f["parts"].keys()) for f in touched}
        if len(key_orders) != 1:
            # mixed physical layouts (partitioned + flat commits): no
            # single partitionBy reproduces both; stage flat. The
            # replace_partitions unlabeled-file guard keeps this honest.
            pkeys: list[str] | None = None
        else:
            pkeys = list(key_orders.pop()) or None
        out = transform(self._files_to_df(touched, schema, mapping))
        tx = self.begin()
        # pin the transaction to the snapshot the hit scan read: begin()
        # read the head AGAIN, and a rewrite landing in the gap would
        # otherwise pass the conflict check while this rewrite's staged
        # output duplicates rows from the file the other commit replaced
        tx.read_version = head["version"]
        tx.rewrite(out, [f["path"] for f in touched], partition_by=pkeys)
        return tx.commit()

    def delete(
        self,
        condition: Column | str,
        partition_filter: dict[str, object] | None = None,
        range_filter: dict[str, tuple] | None = None,
        equality_filter: dict[str, object] | None = None,
    ) -> int:
        """Transactional row-level DELETE: rows matching ``condition``
        vanish atomically at the committed version; files with no
        matches survive byte-identical (their manifest paths don't
        change — time travel to the parent still sees the rows).
        Returns the current version unchanged when nothing matches —
        a no-op DELETE should not invalidate snapshot readers.

        The optional pruning hints MUST be implied by ``condition``
        (they narrow which files are even scanned for matches): a hint
        that excludes a file containing matching rows silently leaves
        those rows in the table. Hints naming columns absent from the
        condition are refused outright; implication for hints that do
        mention the column is the caller's responsibility."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._dml_rewrite(
            cond,
            lambda df: df.filter(~cond),
            partition_filter,
            range_filter,
            equality_filter,
        )

    def update(
        self,
        condition: Column | str,
        assignments: dict[str, Column | str],
        partition_filter: dict[str, object] | None = None,
        range_filter: dict[str, tuple] | None = None,
        equality_filter: dict[str, object] | None = None,
    ) -> int:
        """Transactional row-level UPDATE: ``assignments`` maps column
        name → new-value expression (may reference any column), applied
        only where ``condition`` holds; every value keeps its declared
        column type. Updating a partition column re-partitions the
        rewritten rows naturally — they are staged through the same
        partitionBy as the files they replace. The pruning hints carry
        the same MUST-be-implied-by-``condition`` contract as
        ``delete`` (hints naming columns absent from the condition are
        refused; see there)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        types = {f.name: f.dataType for f in schema.fields}
        unknown = [c for c in assignments if c not in types]
        if unknown:
            raise ValueError(f"assignments target unknown columns: {unknown}")
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }

        def apply(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.when(cond, exprs[c].cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )

        return self._dml_rewrite(
            cond, apply, partition_filter, range_filter, equality_filter
        )

    def foreach_batch_appender(self, app_prefix: str):
        """Sink function for ``DataStreamWriter.foreachBatch``: each
        micro-batch appends under ``(app_id=app_prefix,
        app_version=batch_id)`` — batch ids are monotonic, so the
        replay check is one lookup in the head manifest's rolling
        app-version map (O(1), not a log scan), and Structured
        Streaming's at-least-once batch replay (after a sink failure or
        checkpoint recovery) commits each batch exactly once."""

        def _write(batch_df: DataFrame, batch_id: int) -> None:
            tbl = TxTable(batch_df.sparkSession, self.root)
            tbl.begin(app_id=app_prefix, app_version=int(batch_id)).append(
                batch_df
            ).commit()

        return _write

    def diff(self, from_version: int, to_version: int, keys: list[str]) -> DataFrame:
        """Row-level change feed between two snapshots: added / removed /
        changed rows keyed by ``keys`` — ``operators/joins.py::
        snapshot_diff`` (each side reduced to key + row fingerprint
        before the one full-outer shuffle) applied to two time-travel
        reads. The CDC surface a commit log makes possible on plain
        parquet: any two retained versions, any direction."""
        from aws_glue_redshift_datawarehouse_etl_pipeline_spark.operators.joins import (
            snapshot_diff,
        )

        return snapshot_diff(
            self.read(version=from_version), self.read(version=to_version), keys
        )

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as a METADATA-ONLY commit: the logical name in
        the schema changes, the physical name in every parquet file
        stays frozen at what the column was first written as — zero
        bytes of data rewritten, and every snapshot (past and future)
        reads correctly through the manifest's logical→physical map.
        Pre-rename stats and Bloom filters keep pruning (they are
        recorded under physical names). A ``new`` name that collides
        case-insensitively with any current logical OR any recorded
        physical name is refused — identifier resolution is
        case-insensitive in SQL engines, and reusing a physical name
        would make the logical→physical translation ambiguous.
        Conflicts like an overwrite if the head moves concurrently;
        concurrent writers staged under the old mapping conflict at
        their commit."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r}; have {names}")
        mapping = dict(head.get("column_mapping") or {})
        taken = {n.lower() for n in names if n != old}
        taken |= {p.lower() for p in mapping.values()}
        taken |= {mapping.get(c, c).lower() for c in names}
        taken |= {r.lower() for r in head.get("retired_columns") or []}
        if new.lower() in taken:
            raise ValueError(
                f"{new!r} collides (case-insensitively) with a current "
                "logical or recorded physical column name"
            )
        _refuse_if_constrained(head, old, "rename")
        physical = mapping.pop(old, old)
        if physical != new:
            mapping[new] = physical
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        tx = self.begin()
        manifest = {
            "format_version": _FORMAT_VERSION,
            "version": head["version"] + 1,
            "parent": head["version"],
            "op": "rename_column",
            "txid": tx.txid,
            "app_txid": None,
            "app_versions": dict(head.get("app_versions") or {}),
            "schema": new_schema.json(),
            "partition_keys": list(head.get("partition_keys") or []),
            "column_mapping": mapping,
            "retired_columns": list(head.get("retired_columns") or []),
            "constraints": dict(head.get("constraints") or {}),
            **dict(zip(("app_txids", "app_txids_floor"), self._txid_map(head))),
            "files": self._snapshot_files(head),
            "committed_at_ms": _next_commit_ms(head),
        }
        if not self._try_write_manifest(manifest):
            raise CommitConflictError(
                f"version {manifest['version']} was claimed concurrently"
            )
        return manifest["version"]

    def drop_column(self, name: str) -> int:
        """DROP COLUMN as a METADATA-ONLY commit: the column leaves the
        logical schema; the physical bytes stay in every existing file
        and are simply never read (vacuumed away as those files age
        out through compaction/overwrite). The dropped column's
        PHYSICAL name is recorded as retired: appending a new column
        under it (or renaming onto it) is refused, because old files
        still carry values under that physical name and a re-added
        column would silently resurrect them."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r}; have {names}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        _refuse_if_constrained(head, name, "drop")
        mapping = dict(head.get("column_mapping") or {})
        physical = mapping.pop(name, name)
        retired = sorted(set(head.get("retired_columns") or []) | {physical})
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        pkeys = list(head.get("partition_keys") or [])
        if physical in pkeys:
            raise ValueError(
                f"{name!r} is a partition column; rewrite the layout first"
            )
        tx = self.begin()
        manifest = {
            "format_version": _FORMAT_VERSION,
            "version": head["version"] + 1,
            "parent": head["version"],
            "op": "drop_column",
            "txid": tx.txid,
            "app_txid": None,
            "app_versions": dict(head.get("app_versions") or {}),
            "schema": new_schema.json(),
            "partition_keys": pkeys,
            "column_mapping": mapping,
            "retired_columns": retired,
            "constraints": dict(head.get("constraints") or {}),
            **dict(zip(("app_txids", "app_txids_floor"), self._txid_map(head))),
            "files": self._snapshot_files(head),
            "committed_at_ms": _next_commit_ms(head),
        }
        if not self._try_write_manifest(manifest):
            raise CommitConflictError(
                f"version {manifest['version']} was claimed concurrently"
            )
        return manifest["version"]

    def read_added_since(self, version: int) -> DataFrame:
        """Incremental change-stream read: the rows in files ADDED by
        commits after ``version`` that are still live at head —
        computed entirely from manifests (set difference of two
        materialized snapshots, zero data I/O for discovery), so an
        incremental consumer processes O(new data) however large the
        table. Pairs with ``TransactionalCatalog`` bookmarks: store the
        last-processed version, read what landed since, commit the new
        version — the streaming-source pattern over the commit log.
        Rows REMOVED since ``version`` (DML, replace) don't appear;
        use ``diff`` for a keyed changed/removed feed."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        base = self._read_manifest(version)
        if base is None:
            raise FileNotFoundError(
                f"no committed version {version} at {self.root}"
            )
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        old = {f["path"] for f in self._snapshot_files(base)}
        fresh = [
            f for f in self._snapshot_files(head) if f["path"] not in old
        ]
        return self._files_to_df(
            fresh, schema, dict(head.get("column_mapping") or {})
        )

    def restore(self, version: int) -> int:
        """Roll the table BACK to ``version`` as a NEW commit (the
        public RESTORE semantics): the head becomes a manifest with the
        old version's exact file list and schema — no data is copied or
        deleted, the restore itself stays in history, and the abandoned
        versions remain time-travelable until vacuum. Conflicts like an
        overwrite if the head moves concurrently."""
        src = self._read_manifest(version)
        if src is None:
            raise FileNotFoundError(f"no committed version {version} at {self.root}")
        tx = self.begin()
        tx.op = "restore"
        tx._schema_json = src["schema"]
        tx._partition_keys = list(src.get("partition_keys") or [])
        head = self._head_manifest()
        # The head's constraints carry forward (policy survives a data
        # restore), so a restore that removes a column — rolling back
        # past the append that introduced it — must refuse when a
        # constraint references that column, exactly like drop_column
        # does: otherwise the expression stops binding and every
        # subsequent append fails analysis. set_constraints() first.
        restored_cols = {
            f.name
            for f in T.StructType.fromJson(json.loads(src["schema"])).fields
        }
        for f in T.StructType.fromJson(json.loads(head["schema"])).fields:
            if f.name not in restored_cols:
                _refuse_if_constrained(
                    head, f.name, f"restore to version {version} (which removes)"
                )
        manifest = {
            "format_version": _FORMAT_VERSION,
            "version": head["version"] + 1,
            "parent": head["version"],
            "op": "restore",
            "txid": tx.txid,
            "app_txid": None,
            "app_versions": dict(head.get("app_versions") or {}),
            "schema": src["schema"],
            "partition_keys": tx._partition_keys,
            "column_mapping": dict(src.get("column_mapping") or {}),
            # Retired names carry forward EXCEPT where the restored
            # schema makes the column live again: restoring to a
            # pre-drop version resurrects the dropped column by design,
            # and keeping its physical name retired would wedge every
            # subsequent full-schema append against the RETIRED-name
            # check in commit(). Names retired in BOTH the head and the
            # restored snapshot (dropped before `version`) stay retired.
            "retired_columns": sorted(
                {
                    r
                    for r in (
                        set(head.get("retired_columns") or [])
                        | set(src.get("retired_columns") or [])
                    )
                    if r.lower() not in _live_physical_names(src)
                }
            ),
            # table POLICY survives a data restore: the head's
            # constraint set carries forward, not the old version's
            "constraints": dict(head.get("constraints") or {}),
            **dict(zip(("app_txids", "app_txids_floor"), self._txid_map(head))),
            "files": self._snapshot_files(src),
            "restored_from": version,
            "committed_at_ms": _next_commit_ms(head),
        }
        if not self._try_write_manifest(manifest):
            raise CommitConflictError(
                f"version {manifest['version']} was claimed concurrently"
            )
        return manifest["version"]

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        num_files: int | None = None,
        zorder_by: list[str] | None = None,
        partition_filter: dict[str, object] | None = None,
    ) -> int:
        """See the overwrite path below; ``partition_filter`` switches
        to a PARTITION-SCOPED compaction — only the matching files are
        rewritten (through the same file-level rewrite op the DML
        uses), every other file carries into the new manifest by
        reference. Compacting one hot partition of a million-file
        table commits O(that partition)."""
        if partition_filter:
            head = self._head_manifest()
            if head is None:
                raise FileNotFoundError(f"no committed version at {self.root}")
            schema = T.StructType.fromJson(json.loads(head["schema"]))
            mapping = dict(head.get("column_mapping") or {})
            files = _prune_files(
                self._snapshot_files(head), _map_keys(partition_filter, mapping), None
            )
            if len(files) <= 1:
                return head["version"]  # nothing to collapse
            key_orders = {tuple(f["parts"].keys()) for f in files}
            if len(key_orders) != 1:
                raise ValueError(
                    "partition-scoped compaction needs a uniform partition "
                    f"layout under the filter; saw key sets {key_orders}"
                )
            pkeys = list(key_orders.pop()) or None
            snap = self._files_to_df(files, schema, mapping)
            if zorder_by:
                from aws_glue_redshift_datawarehouse_etl_pipeline_spark.operators.layout import (
                    zorder_layout,
                )

                snap = zorder_layout(snap, zorder_by, num_partitions=num_files or 1)
            else:
                snap = snap.coalesce(num_files or 1)
            tx = self.begin()
            tx.read_version = head["version"]  # pin the pruned snapshot
            tx.rewrite(snap, [f["path"] for f in files], partition_by=pkeys)
            return tx.commit()
        return self._compact_full(num_files, zorder_by)

    def _compact_full(
        self,
        num_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction as a COMMIT: the head snapshot is
        rewritten into ``num_files`` files (default: one per live
        commit directory, collapsing append accretion) — readers switch
        atomically from the fragmented layout to the compact one, old
        files stay reachable for time travel until ``vacuum``. The
        commit is a REWRITE dropping every pre-compaction file, so a
        concurrent pure APPEND rebases instead of conflicting (the
        compaction serializes before it — appended files carry into the
        new manifest by reference): continuous ingest cannot starve
        compaction. A concurrent commit that removed or replaced files
        still conflicts; re-run compaction after, it's idempotent on
        content.

        ``zorder_by`` additionally clusters the rewrite on the Z-curve
        over those (numeric) columns (operators/layout.py), so the
        compacted files carry tight parquet min/max footers for
        predicates on ANY of them — the OPTIMIZE ... ZORDER BY shape,
        done here as an ordinary transactional rewrite."""
        head = self._head_manifest()
        if head is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        files = self._snapshot_files(head)
        if num_files is None:
            num_files = max(1, len({f["path"].split("/")[1] for f in files}))
        schema = T.StructType.fromJson(json.loads(head["schema"]))
        mapping = dict(head.get("column_mapping") or {})
        snap = self._files_to_df(files, schema, mapping)
        if zorder_by:
            from aws_glue_redshift_datawarehouse_etl_pipeline_spark.operators.layout import (
                zorder_layout,
            )

            snap = zorder_layout(snap, zorder_by, num_partitions=num_files)
        else:
            snap = snap.coalesce(num_files)
        tx = self.begin()
        tx.read_version = head["version"]  # pin the snapshot compacted
        tx.rewrite(snap, [f["path"] for f in files])
        return tx.commit()

    def vacuum(self, keep_versions: int = 1, retention_hours: float = 0.0) -> list[str]:
        """Delete data directories referenced by NO retained manifest
        (aborted/crashed stages, overwritten snapshots). Manifests older
        than the ``keep_versions`` newest are dropped first; a stage dir
        must also be older than ``retention_hours`` (mtime) so an
        in-flight writer's stage is never swept from under it.

        Only PARSEABLE manifests count toward ``keep_versions`` — a
        torn claim from a crashed writer is repaired (aged) or left
        (recent), never treated as a retained snapshot; counting it
        would silently drop the last valid manifest and with it every
        live data directory."""
        versions = self._manifest_versions()
        valid = [v for v in versions if self._read_manifest(v) is not None]
        keep = set(valid[-max(1, keep_versions) :])
        # delta manifests replay from their checkpoint ancestor, so the
        # retained set extends DOWN to the nearest full manifest at or
        # below the oldest kept version — dropping any link of that
        # chain would orphan every kept delta above it. Bounded extra
        # retention: at most checkpoint_interval - 1 manifests.
        if keep:
            anchor = min(keep)
            while anchor in valid:
                m = self._read_manifest(anchor)
                if m is None or "files" in m:
                    break
                anchor = m["parent"]
            keep |= {v for v in valid if anchor <= v <= min(keep)}
        fs, _ = _fs_and_path(self.spark, self.root)
        jvm = self.spark._jvm
        P = jvm.org.apache.hadoop.fs.Path
        for v in versions:
            if v in keep:
                continue
            if v in set(valid):
                fs.delete(P(self._log_path(), _vname(v)), False)
                # this handle deleted the version ON PURPOSE: time
                # travel to it must now fail, not serve from the cache
                self._manifest_text_cache.pop(v, None)
            else:
                self._repair_torn(v)  # aged torn claims only
        live: set[str] = set()
        for v in sorted(keep):
            m = self._read_manifest(v)
            if m:
                for f in self._snapshot_files(m):
                    live.add(f["path"].split("/")[1])  # txid component
        data_root = P(f"{self.root}/{_DATA_DIR}")
        removed: list[str] = []
        if fs.exists(data_root):
            cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000
            for st in fs.listStatus(data_root):
                name = st.getPath().getName()
                if name not in live and st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
                    removed.append(name)
        return sorted(removed)


class TransactionalCatalog:
    """Drop-in replacement for ``WarehouseCatalog`` backed by TxTable:
    the same surface the star loader and the ETL examples consume
    (``table_exists`` / ``read_table`` / ``write_table``), but every
    write is a transaction — a crashed load leaves the previous
    snapshot, a re-run lands atomically, and each load is a time-
    travelable version. The reference's governed-catalog sink
    (additional_options Transaction semantics, context.py:676-683) is
    exactly this pairing: the catalog API in front, a transactional
    format behind. SORTKEY layout is preserved: range-partition +
    sort-within before the transactional append, so file-level min/max
    pruning works on the committed files the same as on the plain
    warehouse."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def table(self, table: str) -> TxTable:
        return TxTable(self.spark, self._path(table))

    def table_exists(self, table: str) -> bool:
        return self.table(table).exists()

    def read_table(self, table: str, version: int | None = None) -> DataFrame:
        return self.table(table).read(version=version)

    def get_table_schema(self, table: str):
        return self.read_table(table).schema

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        sort_keys=None,
        target_partitions: int | None = None,
        app_txid: str | None = None,
    ) -> int:
        if sort_keys:
            n = target_partitions or df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(n, *sort_keys).sortWithinPartitions(*sort_keys)
        elif target_partitions:
            df = df.repartition(target_partitions)
        tx = self.table(table).begin(app_txid=app_txid)
        if mode == "overwrite":
            tx.overwrite(df)
        else:
            tx.append(df)
        return tx.commit()

    # -- job bookmarks (transactional high-watermark reads) ---------------
    # Same surface as WarehouseCatalog's bookmark API, but each commit
    # of the watermark is itself a transaction on a tiny `_bookmarks`
    # commit-log table — a crash between data write and bookmark commit
    # leaves the PREVIOUS watermark, so the re-run re-reads (and the
    # idempotent loads above absorb) rather than silently skipping.

    _BOOKMARKS = "_bookmarks"

    def get_bookmark(self, source: str):
        tbl = self.table(self._BOOKMARKS)
        if not tbl.exists():
            return None
        rows = (
            tbl.read()
            .filter(F.col("source") == source)
            .orderBy(F.desc("version"))
            .limit(1)
            .collect()
        )
        return rows[0]["watermark"] if rows else None

    def commit_bookmark(self, source: str, df: DataFrame, watermark_col: str) -> None:
        row = df.agg(F.max(watermark_col).alias("wm")).first()
        if row is None or row.wm is None:
            return
        tbl = self.table(self._BOOKMARKS)
        version = tbl.current_version() + 1
        entry = self.spark.createDataFrame(
            [(source, str(row.wm), version)], "source: string, watermark: string, version: long"
        )
        tbl.append(entry)

    def incremental_read(self, df: DataFrame, source: str, watermark_col: str) -> DataFrame:
        wm = self.get_bookmark(source)
        if wm is None:
            return df
        return df.filter(F.col(watermark_col) > F.lit(wm))


# -- reference-parity free functions (context.py:676-683 names) -------------
def start_transaction(table: TxTable) -> Transaction:
    """``GlueContext.start_transaction`` analog (context.py:676-678)."""
    return table.begin()


def commit_transaction(tx: Transaction) -> int:
    """``GlueContext.commit_transaction`` analog (context.py:679-680)."""
    return tx.commit()


def cancel_transaction(tx: Transaction) -> None:
    """``GlueContext.cancel_transaction`` analog (context.py:681-683)."""
    tx.abort()
