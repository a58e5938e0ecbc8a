from .events import EVENT_SCHEMA, SOURCE_PARAMS, GenSpec, events_df, gen_events_local, write_segments
from .lake import LakeTable, bucket_expr
from .logcompact import compact_log, compaction_stats
from .merge import apply_batch
from .oracle import replay, state_digest, state_rows
from .schema import KEY_COLS, TABLE_SCHEMA, normalize_events
from .streaming import IngestStream

__all__ = [
    "EVENT_SCHEMA",
    "SOURCE_PARAMS",
    "GenSpec",
    "events_df",
    "gen_events_local",
    "write_segments",
    "LakeTable",
    "bucket_expr",
    "compact_log",
    "compaction_stats",
    "apply_batch",
    "replay",
    "state_digest",
    "state_rows",
    "KEY_COLS",
    "TABLE_SCHEMA",
    "normalize_events",
    "IngestStream",
]
