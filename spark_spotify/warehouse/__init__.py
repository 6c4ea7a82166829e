"""The warehouse table format: immutable parquet parts plus a versioned
JSON manifest per table, committed by compare-and-swap.

This package is the only code that reads or writes manifests; other
modules use the names exported here.

- :mod:`.manifest` — the log: versions, :func:`commit`, rebase,
  multi-table transactions, row counts;
- :mod:`.scan` — snapshot reads, file skipping, bloom indexes;
- :mod:`.ddl` — metadata verbs: tags, vacuum, restore, clone,
  constraints, generated columns, schema evolution, row tracking;
- :mod:`.dml` — data verbs: append, DELETE, MERGE, OPTIMIZE, WAP;
- :mod:`.cdf` — change feeds.
"""

from spark_spotify.warehouse.cdf import (
    apply_change_feed,
    change_feed,
    delta_apply_mv,
    row_lineage_feed,
)
from spark_spotify.warehouse.ddl import (
    ConstraintViolationError,
    add_constraint,
    add_generated_column,
    clone_table,
    drop_column,
    drop_constraint,
    drop_tag,
    enable_row_tracking,
    list_tags,
    read_table_tag,
    rename_column,
    restore_table,
    tag_version,
    vacuum_table,
    widen_column,
)
from spark_spotify.warehouse.dml import (
    APPEND_WRITE_FILES,
    COW_WRITE_FILES,
    Z_GRID_BITS,
    commit_append,
    commit_snapshot,
    compact_table,
    delete_rows,
    delete_where,
    matched_delete,
    matched_update,
    merge_rows,
    not_matched_by_source_delete,
    not_matched_by_source_update,
    not_matched_insert,
    optimize_table,
    stage_arrow_part,
    wap_publish,
    zorder_expr,
)
from spark_spotify.warehouse.manifest import (
    MANIFEST_PREFIX,
    TXN_DIR,
    CommitConflictError,
    commit,
    current_version,
    list_versions,
    manifest_parts,
    multi_commit,
    part_inodes,
    part_rows,
    path_rows,
    read_manifest,
    recover_transactions,
    swing_rebase,
)
from spark_spotify.warehouse.scan import (
    add_bloom_index,
    bloom_covered,
    describe_bloom_coverage,
    prune_parts,
    read_table,
    read_table_where,
    read_table_with_row_ids,
    version_as_of,
)
