"""automatic_data_validator_spark — a from-scratch PySpark-native
schema + constraint validation engine.

Re-expresses the *capabilities* of the reference pandas app
(cosmoavijeet07/automatic-data-validator) — schema detection, column
profiling, constraint/quality checks, dedup, correction, pipeline
emission — as lazy, partition-parallel Spark DataFrame plans over
tables of interleaved text+media documents
(``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>``).

Design principles (see SURVEY.md §4.2):
  * one fused single-pass aggregation for all column profiles;
  * constraint predicates compile to Spark SQL expressions (no
    per-row Python anywhere; Python hooks are Arrow-vectorized);
  * explicit skew handling (salted two-phase dedup) for hot doc_id
    prefixes;
  * broadcast vs sort-merge referential joins, chosen by size;
  * per-partition verdicts + violation rows + lineage, resumable
    from parquet checkpoints.
"""

__version__ = "0.1.0"

from . import config  # noqa: F401
from .correct import CorrectionPlan, apply_plan, build_plan, clean, summary_report  # noqa: F401
from .pipeline import create_package, emit_pipeline, emit_tests  # noqa: F401
from .profile import (  # noqa: F401
    correlation_pairs,
    missing_pattern,
    mixed_type_report,
    normality_jarque_bera,
    profile,
    profile_partitioned,
    quality_report,
    shapiro_wilk_column,
    topk_values,
)
from .drift import schema_drift, schema_snapshot  # noqa: F401
from .dedup import (  # noqa: F401
    hot_prefixes,
    neardup_dedup,
    rebase_neardup_after_compaction,
    salted_repartition,
)
from .incremental import (  # noqa: F401
    compact_state,
    history_report,
    rebase_after_compaction,
    validate_incremental,
)
from .rules import Rule, distributed_verdicts, evaluate_row_rules  # noqa: F401
from .schema import CastSpec, apply_cast_plan, suggest_cast_plan, validate_cast_plan  # noqa: F401
from .sources import (  # noqa: F401
    read_csv,
    read_excel,
    read_json,
    read_text,
    write_bucketed_table,
    write_sorted_table,
)
from .state import (  # noqa: F401
    Checkpointer,
    CheckpointRegistry,
    export_summary,
    run_summary,
)
from .streaming import (  # noqa: F401
    drift_stream,
    referential_stream,
    stateful_uniqueness,
    validate_stream,
    windowed_quality,
)
from .textops import cleaning_suggestions, fix_encoding_artifacts, text_change_report  # noqa: F401
from .validate import ValidationResult, canonical_violations, run_validation  # noqa: F401
