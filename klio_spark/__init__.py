"""klio_spark — a PySpark-native data-pipeline engine with the query and
data-processing capabilities of spotify/klio, re-expressed Spark-first.

The reference (spotify/klio, surveyed in SURVEY.md) is a config-driven
Apache-Beam ecosystem for processing binary/audio files at scale: event
inputs carry *elements* (references to heavy data), a protobuf envelope
carries routing metadata (force / ping / intended_recipients / audit log),
and built-in transforms short-circuit work whose inputs are missing or
whose outputs already exist.

Here the envelope is a set of first-class DataFrame columns (so every
klio filter is a Catalyst-optimizable predicate), heavy bytes stay out
of shuffles (paths are passed; bytes fetched lazily in consuming UDFs),
and every per-element hook is vectorized (Arrow / pandas_udf), with
drop-don't-fail error routing as a core API.

Layout:
    envelope    - KlioMessage as a column schema (ref: core/src/klio_core/proto/klio.proto)
    config      - klio-job.yaml-shaped job config  (ref: core/src/klio_core/config/core.py)
    context     - KlioContext: config/logger in UDFs (ref: lib/src/klio/transforms/core.py)
    operators   - ping/force/recipients/existence/audit/counters (observe()) + prologue
                  (ref: lib/src/klio/transforms/helpers.py, exec/src/klio_exec/commands/run.py)
    sources     - event readers (text/avro/parquet/bq-style/stream)
                  (ref: lib/src/klio/transforms/io.py)
    sinks       - event writers (ref: lib/src/klio/transforms/io.py)
    udf         - @handle_klio-equivalent adapter: vectorized, error-routing,
                  retry/timeout (ref: lib/src/klio/transforms/decorators.py)
    functions   - text analysis, dedup, similarity, vector ops (north-star extensions)
    audio       - librosa-gated audio transforms (ref: audio/src/klio_audio/)
    streaming   - Structured Streaming prologue/sinks (Pub/Sub stand-ins)
    plans       - plan inspection helpers (explain/pushdown assertions)
"""

__version__ = "0.1.0"

from klio_spark.envelope import ENVELOPE_SCHEMA, with_envelope  # noqa: F401
from klio_spark.session import get_spark  # noqa: F401
