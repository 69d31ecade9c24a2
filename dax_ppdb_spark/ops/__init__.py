from .asof import asof_join  # noqa: F401
from .constraints import (  # noqa: F401
    AcceptedValues,
    Check,
    ConstraintViolationError,
    ForeignKey,
    InRange,
    NotNull,
    Unique,
    constraint_audit,
    constraint_violations,
    constraints_from_spec,
    enforce_constraints,
)
from .graph import connected_components  # noqa: F401
from .latest import latest_only, topk_per_key  # noqa: F401
from .merge import merge_patch, merge_upsert  # noqa: F401
from .updates import (  # noqa: F401
    assert_update_targets,
    expand_updates,
    update_patches,
    validate_update_targets,
)
from .ranges import point_in_interval_join  # noqa: F401
from .skew import (  # noqa: F401
    SkewReport,
    estimated_size_bytes,
    key_histogram,
    scan_partition_histogram,
    skew_report,
    suggest_salt_buckets,
    suggest_shuffle_partitions,
)
from .sketches import kmv_estimate, kmv_merge, kmv_sketch  # noqa: F401
from .spatial import crossmatch, with_geo_point, zorder_cell, zorder_index  # noqa: F401
from .validity import fill_validity_end, overlap_violations, rank_versions, valid_at  # noqa: F401
