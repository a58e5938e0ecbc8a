"""Schema evolution: versioned event schemas → one canonical table schema.

Renames are field-identity mappings (Iceberg-style), not drop/add: the
registry below maps each canonical field to its physical name per
``schema_ver``, and ``normalize_events`` compiles that map into pure
column expressions (CASE over schema_ver — JVM-side, codegen-friendly).

Evolution history used by the fixtures (FIXTURES.md §C):
  v1: (repo, path, commit, lang, content)
  v2: + branch (default 'main' for older rows)
  v3: lang renamed to language (same field id)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.manifest import MANIFEST_TYPE

#: canonical field -> {schema_ver -> physical event column (None = absent)}
FIELD_SOURCES: dict[str, dict[int, str | None]] = {
    "repo": {1: "repo", 2: "repo", 3: "repo"},
    "path": {1: "path", 2: "path", 3: "path"},
    "commit": {1: "commit", 2: "commit", 3: "commit"},
    "language": {1: "lang", 2: "lang", 3: "language"},
    "branch": {1: None, 2: "branch", 3: "branch"},
    "content": {1: "content", 2: "content", 3: "content"},
}

FIELD_DEFAULTS = {"branch": "main"}

LATEST_SCHEMA_VER = max(v for m in FIELD_SOURCES.values() for v in m)

#: canonical lake-table schema (manifest attached by the merge stage)
TABLE_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("language", StringType(), True),
        StructField("branch", StringType(), True),
        StructField("content", StringType(), True),
        StructField("content_sha256", StringType(), True),
        StructField("size", LongType(), True),
        StructField("manifest", MANIFEST_TYPE, True),
    ]
)

from pyspark.sql.types import BooleanType  # noqa: E402

#: physical file schema: table columns + merge-on-read bookkeeping.
#: ``seq`` orders row versions across delta files; ``deleted`` marks
#: tombstones. Readers resolve max-seq per key and drop tombstones.
FILE_SCHEMA = StructType(
    [*TABLE_SCHEMA.fields,
     StructField("seq", LongType(), True),
     StructField("deleted", BooleanType(), True)]
)

KEY_COLS = ("repo", "path")


def canonical_field(name: str) -> F.Column:
    """CASE expression resolving canonical field ``name`` across all
    known schema versions of an event row."""
    sources = FIELD_SOURCES[name]
    # build bottom-up: start from the oldest version as the base
    base_src = sources[min(sources)]
    expr = F.col(base_src) if base_src else F.lit(FIELD_DEFAULTS.get(name))
    for ver in sorted(sources)[1:]:
        src = sources[ver]
        col = F.col(src) if src else F.lit(FIELD_DEFAULTS.get(name))
        expr = F.when(F.col("schema_ver") >= F.lit(ver), col).otherwise(expr)
    return expr.alias(name)


def _canonical_sql(name: str) -> str:
    """``canonical_field`` as SQL text, compiled once at import: the
    registry is a module constant, so the CASE chains never change —
    re-building them as Column objects on every call cost ~15 py4j
    round trips per field (~0.07 s per normalize_events call, two calls
    per commit). Identical semantics, flattened: a version whose
    sources are all the same column collapses to the bare column (the
    nested whens picked the same value on every branch, including the
    null-schema_ver fallthrough)."""
    sources = FIELD_SOURCES[name]

    def ref(src: str | None) -> str:
        if src:
            return f"`{src}`"
        d = FIELD_DEFAULTS.get(name)
        return "NULL" if d is None else "'" + str(d).replace("'", "''") + "'"

    vers = sorted(sources)
    refs = {v: ref(sources[v]) for v in vers}
    if len(set(refs.values())) == 1:
        expr = refs[vers[0]]
    else:
        whens = " ".join(
            f"WHEN `schema_ver` >= {int(v)} THEN {refs[v]}"
            for v in reversed(vers[1:])
        )
        expr = f"CASE {whens} ELSE {refs[vers[0]]} END"
    return f"{expr} AS `{name}`"


_CANONICAL_SQL: tuple[str, ...] = tuple(_canonical_sql(n) for n in FIELD_SOURCES)


def normalize_events(events: DataFrame) -> DataFrame:
    """Project raw versioned events onto the canonical event shape
    (seq, ts, op + canonical fields). Pure projection: Catalyst prunes
    unused physical columns down to the scan."""
    return events.selectExpr("seq", "ts", "op", *_CANONICAL_SQL)
