"""Engine configuration.

``InferenceConfig`` mirrors the reference's ``SchemaInferenceConfig``
(/root/reference/genson-core/src/schema/core.rs:5-56, defaults :123-147) and
``NormaliseConfig`` mirrors /root/reference/genson-core/src/normalise.rs:17-38.
Field names are snake_case one-for-one so reference test cases translate
directly.

``ValidationConfig`` configures the corpus-validation engine (the
generalisation of schema-merge to pre-tokenized training sequences): which
checks run, their thresholds, and the partitioning/skew strategy.
"""

from __future__ import annotations

from dataclasses import dataclass, field


MAP_ENCODING_MAPPING = "mapping"
MAP_ENCODING_ENTRIES = "entries"
MAP_ENCODING_KV = "kv"


@dataclass
class InferenceConfig:
    """Knobs for JSON schema inference (reference parity).

    See /root/reference/genson-core/src/schema/core.rs:123-147 for the
    reference defaults replicated here.
    """

    ignore_outer_array: bool = True
    ndjson: bool = False  # reference: delimiter=Some(b'\n')
    schema_uri: str | None = "AUTO"
    map_threshold: int = 20
    map_max_required_keys: int | None = None
    unify_maps: bool = False
    no_unify: frozenset[str] = field(default_factory=frozenset)
    force_field_types: dict[str, str] = field(default_factory=dict)
    force_parent_field_types: dict[str, str] = field(default_factory=dict)
    force_scalar_promotion: frozenset[str] = field(default_factory=frozenset)
    wrap_scalars: bool = True
    wrap_root: str | None = None
    no_root_map: bool = True
    avro: bool = False
    # NOTE: the reference's max_builders (a parallel-builder memory bound,
    # core.rs:45) has no analogue here BY CONSTRUCTION: the mapInPandas
    # fold keeps ONE summary node per partition and folds docs one at a
    # time, so peak Python memory is already O(summary), not O(batch).
    # The CLI still ACCEPTS --max-builders (reference snapshot replay) as
    # an explicit no-op, like --debug/--profile.

    def __post_init__(self) -> None:
        if not isinstance(self.no_unify, frozenset):
            self.no_unify = frozenset(self.no_unify)
        if not isinstance(self.force_scalar_promotion, frozenset):
            self.force_scalar_promotion = frozenset(self.force_scalar_promotion)


@dataclass
class NormaliseConfig:
    """Knobs for row normalisation (reference parity).

    See /root/reference/genson-core/src/normalise.rs:17-38.
    """

    empty_as_null: bool = True
    coerce_string: bool = False
    map_encoding: str = MAP_ENCODING_KV  # plugin default, expressions.rs:130-132
    wrap_root: str | None = None


@dataclass
class ValidationConfig:
    """Corpus validation engine configuration (north_rule checks).

    The engine validates tables shaped like
    ``(doc_id string, tokens array<int>, n_tok int, source string)``.
    """

    # Column bindings
    doc_id_col: str = "doc_id"
    tokens_col: str = "tokens"
    n_tok_col: str = "n_tok"
    source_col: str = "source"

    # Check toggles (per-source stats always run — they are the verdict
    # table's backbone, not a separable check)
    check_uniqueness: bool = True
    check_referential: bool = True
    check_consistency: bool = True  # n_tok == size(tokens)
    check_drift: bool = True

    # Thresholds
    token_hist_bucket: int = 64  # n_tok histogram bucket width
    token_id_buckets: int = 256  # token-value histogram buckets for drift
    vocab_size: int = 50257
    # token-id-range scan (any id outside [0, vocab_size)): an F.exists
    # over every token of every doc — the most expensive consistency
    # branch (~20% of full validation; see BENCH.md). Disable when the
    # upstream tokenizer already guarantees the range.
    check_token_range: bool = True
    # sequence-length bounds: a doc longer than the model's context (or
    # shorter than min) is a consistency violation. None/0 = unchecked.
    max_seq_len: int | None = None
    min_seq_len: int = 0
    drift_alpha: float = 0.01  # chi-square p-value threshold
    ks_threshold: float = 0.15  # KS D-statistic threshold
    # max tolerated null-doc_id fraction per partition (0.0 = any null
    # fails); enforced in the verdict pass criterion independently of the
    # row-level consistency check, so relaxing check_consistency does not
    # silently waive the null budget
    max_null_rate: float = 0.0
    hll_rsd: float = 0.02  # approx_count_distinct relative std dev
    max_violation_examples: int = 1000

    # Scale / skew knobs
    salt_buckets: int = 8  # salting factor for skewed source keys
