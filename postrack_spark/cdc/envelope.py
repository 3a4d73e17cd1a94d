"""Change-event envelope schema and typed projection.

Reference mapping (SURVEY.md §1.2):
- Event kinds INSERT/UPDATE/DELETE/TRUNCATE — postrack.go:38-43.
- Row images map[string]string (text-encoded values) — postrack.go:35,
  379-382. `valueContainsNull=True` fixes the reference's NULL-vs-""
  lossiness (postrack.go:381: raw bytes stringified with no tuple-kind
  check) while staying drop-in compatible.
- Image population per op (postrack.go:383-410):
  INSERT (after, null) / UPDATE (after, before|empty) /
  DELETE (null, before) / TRUNCATE (null, null).
- `txid`/`commit_ts` are improvements: the reference drops Begin/Commit
  messages entirely (no case arms in postrack.go:368-411).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INSERT = "INSERT"
UPDATE = "UPDATE"
DELETE = "DELETE"
TRUNCATE = "TRUNCATE"
EVENT_KINDS = [INSERT, UPDATE, DELETE, TRUNCATE]

_MAP = T.MapType(T.StringType(), T.StringType(), valueContainsNull=True)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("txid", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("schema", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("after", _MAP, True),
        T.StructField("before", _MAP, True),
    ]
)


def str_map(df_columns: list[str], cast_overrides: dict[str, Column] | None = None) -> Column:
    """Build the text-encoded row image the reference emits
    (postrack.go:379-382): column name -> value cast to string."""
    overrides = cast_overrides or {}
    pairs: list[Column] = []
    for c in df_columns:
        pairs.append(F.lit(c))
        pairs.append((overrides[c] if c in overrides else F.col(c)).cast("string"))
    return F.create_map(*pairs)


def null_map() -> Column:
    return F.lit(None).cast(_MAP)


def empty_map() -> Column:
    """Default-replica-identity UPDATE: old image present but empty
    (postrack.go:388-392 — OldTuple nil unless REPLICA IDENTITY FULL)."""
    return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))


def filter_events(changes: DataFrame, events: list[str]) -> DataFrame:
    """Event-kind filter ≡ the publication's publish= list
    (postrack.go:202-206, SetEvents postrack.go:312-314)."""
    return changes.filter(F.col("op").isin(events))


def typed_column(image: str, name: str, dtype: str) -> Column:
    """Typed projection out of the text envelope: after['col'] CAST(t).

    This is where text-encoded values (reference semantics,
    postrack.go:381) re-acquire types, per table schema.
    """
    return F.element_at(F.col(image), name).cast(dtype)


def prune_images(changes: DataFrame, cols: list[str]) -> DataFrame:
    """Post-source column-list projection — the engine-side twin of the
    reference's ``WithSelector`` (postrack.go:45-49, which makes the
    publication publish only the listed columns). Keeps only `cols` in
    the after/before images; NULL images stay NULL, empty images stay
    empty (replica-identity semantics preserved). Applied before a
    shuffle (e.g. latest-per-key compaction) this cuts shuffle bytes to
    the selected columns — the same effect the reference achieves
    server-side, available engine-side when capture is shared."""
    keep = F.array(*[F.lit(c) for c in cols])

    def prune(img: str) -> Column:
        return F.when(
            F.col(img).isNotNull(),
            F.map_filter(F.col(img), lambda k, _v: F.array_contains(keep, k)),
        )

    return changes.withColumn("after", prune("after")).withColumn("before", prune("before"))
