"""Structured Streaming lift of the batch operators (SURVEY.md §2.8, §7 step 5).

The batch library defines exact relational semantics (oracle-checked); this
package lifts the stateful pieces onto Structured Streaming:

- frame assembly with completeness + processing-time TTL (T1-T3) →
  ``frame_assembly_stream.assemble_frames_stream`` (applyInPandasWithState)
- run lifecycle FSM (T4) → ``run_lifecycle`` (batch fold + streaming state)
- NeXus run sink (S6/S7), two doors writing one layout:
  ``nexus_fetchloop.FetchLoopNexusWriter`` (an in-process consumer loop,
  no micro-batch — the production door for Kafka input) and
  ``nexus_stream.write_nexus_stream`` (foreachBatch behind the FSM — the
  door for Spark-stream input)
- the decisions those doors share — frame dispatch and tombstones, run
  matching and frame sequencing, the run directory name → ``frame_core``
- DAQ observability stats (A7/A8) → ``daq_stats``
- crash recovery (T5) → Structured Streaming checkpointing plus each
  door's write-ahead intent and sink-side resume scan.
"""

from .daq_stats import daq_stats_batch, daq_stats_stream  # noqa: F401
from .doc_dedup import dedup_documents_stream, fingerprint_documents  # noqa: F401
from .envelope_stream import (  # noqa: F401
    ENVELOPE_STREAM_SCHEMA,
    encode_dev2_stream,
    kafka_source_options,
    read_envelope_stream,
)
from .frame_assembly_stream import (  # noqa: F401
    DIGITISER_MESSAGE_SCHEMA,
    assemble_frames_stream,
    events_long_to_messages,
)
from .nexus_stream import write_nexus_stream  # noqa: F401
from .postings_ingest import (  # noqa: F401
    bm25_topk_over_index,
    ingest_postings_stream,
)
from .run_lifecycle import run_lifecycle_stream, runs_from_control  # noqa: F401
