"""Data verbs: append and copy-on-write commits, compaction and OPTIMIZE
(bin-pack and ZORDER), DELETE, MERGE and write-audit-publish.

Each verb writes new immutable parts (or deletion-vector sidecars) and
publishes them in one manifest commit, rebased over concurrent disjoint
commits by :func:`~spark_spotify.warehouse.manifest.swing_rebase`.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_spotify.functions import require
from spark_spotify.functions.concurrency import overlap
from spark_spotify.warehouse.ddl import (
    _apply_generated,
    _enforce_constraints,
    _violation_filter,
)
from spark_spotify.warehouse.manifest import (
    CommitConflictError,
    _enc_stat,
    _require_new_name,
    _stat_kind,
    commit,
    current_version,
    list_versions,
    manifest_parts,
    path_rows,
    read_manifest,
    swing_rebase,
)
from spark_spotify.warehouse.scan import (
    _DV_FILE,
    _DV_IDX,
    _logical,
    _maintain_blooms,
    _part_branches,
    _predicates_column,
    _read_parts,
    _rel_file_expr,
    _scan_live,
    prune_parts,
    read_table,
)


# Optimize-write file-count targets (the Delta optimizeWrite idea: bound
# output files per commit instead of inheriting the job's task count, which
# otherwise writes 32 tiny files per part locally — measured 11.8 s -> 7.6 s
# for the 3-batch pipeline at sf0.1, all of it parquet-writer fixed cost).
# At 100 TB the append target is computed from delta BYTES (~128 MB files),
# not a constant; COW stays at 1 because COW is only used for relations that
# are small by contract (dims, merged aggregates).
COW_WRITE_FILES = 1
APPEND_WRITE_FILES = 4


def commit_snapshot(
    df: DataFrame, warehouse: str, table: str, version: int
) -> None:
    """Copy-on-write commit: write snapshot ``v{version}``, then swing the
    manifest to exactly that snapshot (atomic on the reader side: the
    manifest names only fully-written directories).  For SMALL relations —
    dims, merged aggregates, anything a keyed merge rewrites anyway."""
    path = os.path.join(warehouse, table, f"v{version}")
    df = _apply_generated(df, warehouse, table)
    df.coalesce(COW_WRITE_FILES).write.mode("overwrite").parquet(path)
    _enforce_constraints(df.sparkSession, warehouse, table, f"v{version}")
    commit(warehouse, table, parts=[f"v{version}"])


def commit_append(
    delta: DataFrame, warehouse: str, table: str, version: int
) -> None:
    """Append-only commit: write the DELTA as part ``p{version}``, then
    swing the manifest to the previous part list plus the new part — the
    Delta/Iceberg append transaction on plain parquet.

    This is the ONLY viable commit for the big tables at 100 TB: a
    copy-on-write snapshot rewrites the whole table per batch (O(table)
    I/O for an O(delta) change); an append writes the delta and one
    manifest.  Readers still get snapshot isolation — a reader holds
    whichever part list it opened with."""
    part = f"p{version}"
    base = current_version(warehouse, table)
    delta = _apply_generated(delta, warehouse, table)
    delta.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(warehouse, table, part)
    )
    _enforce_constraints(delta.sparkSession, warehouse, table, part)
    # append ∥ anything-disjoint auto-rebases: a concurrent commit
    # landing between the base read and the swing is replayed under,
    # never silently dropped (the lost-update hazard of an absolute
    # part-list swing)
    swing_rebase(warehouse, table, base, [part])


def stage_arrow_part(
    tbl: pa.Table, warehouse: str, table: str, part: str
) -> None:
    """Write a driver-held ``pyarrow.Table`` as part ``part`` of ``table``
    (one file, no Spark job), for a later commit to publish.  For the
    few-row tables whose every value the driver already holds — batch
    logs, monitor verdicts — where a Spark write of a literal relation
    would spend a job per row."""
    path = os.path.join(warehouse, table, part)
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))


def compact_table(
    spark: SparkSession, warehouse: str, table: str, tag: str
) -> None:
    """Small-file compaction — Delta OPTIMIZE / Iceberg rewrite_data_files
    on the manifest-versioned warehouse: read the current part list,
    rewrite it as ONE part, swing the manifest to exactly that part.  A
    metadata-atomic REWRITE commit: no logical rows change, readers
    holding the old part list are untouched, and the append-era small
    files become garbage collectable once unreferenced.  At 100 TB the
    rewrite targets ~128 MB files per partition instead of 1 global file;
    the manifest mechanics are identical."""
    m = read_manifest(warehouse, table)
    parts = m["parts"]
    # DV-aware read: compaction MATERIALIZES outstanding deletion
    # vectors — the rewritten part carries only surviving rows and the
    # new manifest references no sidecars (Delta's REORG ... PURGE).
    # Row-tracked tables carry _row_id through the rewrite.
    df = _scan_live(spark, warehouse, table, parts, m)
    new_part = f"c{tag}"
    df.coalesce(COW_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(warehouse, table, new_part)
    )
    # a whole-table rewrite orphans every existing bloom sidecar —
    # rebuild coverage for the replacement in the SAME commit (the old
    # names drop from the mapping; their bytes stay for time travel)
    badd = _maintain_blooms(spark, warehouse, table, m, [new_part], new_part)
    commit(warehouse, table, parts=[new_part], blooms=badd or {})


def optimize_table(
    spark: SparkSession,
    warehouse: str,
    table: str,
    target_bytes: int,
    tag: str = "opt",
    predicates: list[tuple] | None = None,
    zorder_by: tuple[str, str] | None = None,
    incremental: bool = False,
    min_bytes: int | None = None,
) -> int:
    """INCREMENTAL small-file compaction — the real ``OPTIMIZE`` /
    ``rewrite_data_files`` semantics that :func:`compact_table`'s
    whole-table rewrite approximates: only parts SMALLER than
    ``target_bytes`` are bin-packed into ~target-sized replacement
    files; right-sized parts keep their bytes untouched.  Cost is
    O(undersized data), so a daily optimize over a 100 TB table touches
    only the trickle of small append parts, never the compacted bulk.
    Commits through :func:`swing_rebase`, so a concurrent disjoint
    append lands cleanly while a concurrent rewrite of the same parts
    conflicts (exactly-one-winner).  Spec'd (hive-partitioned) small
    parts fold into the plain replacement — the same spec-forwarding
    compaction contract as compact_table.  Returns the number of parts
    folded (0 = nothing to do).

    ``zorder_by=(c1, c2)`` switches the verb to Delta's ``OPTIMIZE ...
    ZORDER BY``: every in-scope part (size no longer gates — the point
    is re-clustering, not bin-packing) is rewritten ordered by the
    bit-interleaved Z-value of the two INTEGRAL columns, and the output
    lands as one part per Z-range so the manifest's per-part min/max
    stats become selective on BOTH columns at once (single-key
    clustering can never skip on its second key).  Grid bounds come
    from the MANIFEST STATS, not a scan — at 100 TB the planner already
    holds them.  Bloom sidecars auto-maintain through the rewrite in
    the same commit, like every other layout verb.

    ``incremental=True`` (ZORDER only) applies the bin-pack arm's
    small-file selection to the re-clustering verb: only parts UNDER
    ``target_bytes`` — the trickle of appends that landed since the
    last layout pass — are rewritten, Z-valued against the FULL
    manifest's grid bounds so the new ranges are comparable with the
    standing clustered generation, whose bytes stay untouched.  Fewer
    than two small parts is a no-op (the same ≥2 guard as bin-packing:
    once a trickle graduates into a right-sized Z-range it is never
    re-selected, so repeated runs are self-stabilizing instead of
    rewriting the same bytes forever).  This is the ZCube-style
    maintenance loop clustered 100 TB tables actually run — the
    nightly pass touches O(new data), never the clustered bulk."""
    import math

    base = current_version(warehouse, table)
    m = read_manifest(warehouse, table, base)
    parts = m["parts"]
    tdir = os.path.join(warehouse, table)
    # OPTIMIZE WHERE: scope the verb to a key range via the SAME
    # manifest-stats pruning the read path uses (pure metadata) — the
    # form a 100 TB table actually runs (compact yesterday's
    # partition); out-of-scope parts are never sized, opened, or
    # rewritten
    cand = parts
    if predicates:
        scope, _ = prune_parts(warehouse, table, predicates, base)
        in_scope = set(scope)
        cand = [p for p in parts if p in in_scope]

    def psize(p: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(tdir, p)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    sizes = {p: psize(p) for p in cand}
    if zorder_by is not None:
        grid_parts = None
        if incremental:
            # selection threshold vs output target are SEPARATE dials
            # (Delta's autoCompact.minFileSize vs maxFileSize): outputs
            # land near target_bytes, so selecting at target_bytes would
            # re-fold every graduated range forever; min_bytes below
            # target keeps graduation permanent
            sel = min_bytes if min_bytes is not None else target_bytes
            grid_parts = cand  # grid over the FULL in-scope manifest
            cand = [p for p in cand if sizes[p] < sel]
            if len(cand) < 2:
                return 0
        return _optimize_zorder(
            spark, warehouse, table, target_bytes, tag, zorder_by,
            base, parts, m, cand, sizes, grid_parts=grid_parts,
        )
    small = [p for p in cand if sizes[p] < target_bytes]
    if len(small) < 2:
        return 0
    new_part = f"o{tag}"
    _require_new_name(tdir, parts, new_part, f"optimize tag {tag!r}")
    # folding small parts MATERIALIZES their deletion vectors (the
    # replacement part has no dv entry); untouched parts keep theirs;
    # row-tracked tables carry _row_id through the fold
    df = _scan_live(spark, warehouse, table, small, m)
    n_files = max(
        1,
        min(len(small), math.ceil(sum(sizes[p] for p in small)
                                  / target_bytes)),
    )
    df.coalesce(n_files).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # OPTIMIZE is the index-maintenance verb: cover the folded output
    # AND top up any surviving part appended since the last build, in
    # the same commit — point-lookup pruning stays exact as the table
    # churns instead of silently degrading
    badd = _maintain_blooms(
        spark,
        warehouse,
        table,
        m,
        [new_part] + [p for p in parts if p not in small],
        new_part,
    )
    swing_rebase(
        warehouse, table, base, [new_part], set(small), blooms_add=badd
    )
    return len(small)


def _optimize_zorder(
    spark: SparkSession,
    warehouse: str,
    table: str,
    target_bytes: int,
    tag: str,
    zorder_by: tuple[str, str],
    base: int,
    parts: list[str],
    m: dict,
    cand: list[str],
    sizes: dict[str, int],
    grid_parts: list[str] | None = None,
) -> int:
    """The ZORDER arm of :func:`optimize_table` (see its docstring).
    Writes the in-scope rows range-partitioned and sorted on the
    Z-value, promotes each range to its OWN part (``o{tag}z{i}``) so
    part-level stats pruning — the engine's planning granularity —
    sees the clustering, and commits the swap with same-commit bloom
    maintenance via :func:`swing_rebase` (concurrent disjoint appends
    rebase under it; a concurrent rewrite of the same parts
    conflicts)."""
    import glob as _glob
    import math
    import shutil

    if not cand:
        return 0
    c1, c2 = zorder_by
    tdir = os.path.join(warehouse, table)

    # grid bounds from the manifest's per-part stats — pure metadata
    # (incremental mode grids over the FULL in-scope manifest so the
    # rewritten trickle's Z-values are comparable with the standing
    # clustered generation's)
    def _bounds(col: str) -> tuple[int, int]:
        los, his = [], []
        for p in grid_parts if grid_parts is not None else cand:
            st = (m["stats"].get(p) or {}).get(col)
            if st and st.get("n", 0) and st.get("lo") is not None:
                los.append(int(st["lo"]))
                his.append(int(st["hi"]))
        require(
            bool(los),
            f"ZORDER BY {col}: no integral stats in the manifest "
            "(commit stats are required to derive the grid)",
        )
        return min(los), max(his)

    lo1, hi1 = _bounds(c1)
    lo2, hi2 = _bounds(c2)
    cells = 1 << Z_GRID_BITS
    b1 = f"cast(({c1} - {lo1}) * {cells} / {max(hi1 - lo1, 0) + 1} as int)"
    b2 = f"cast(({c2} - {lo2}) * {cells} / {max(hi2 - lo2, 0) + 1} as int)"
    # the rewrite MATERIALIZES deletion vectors and carries _row_id on
    # tracked tables — identical contract to the bin-pack arm
    df = _scan_live(spark, warehouse, table, cand, m)
    n_ranges = max(
        1, math.ceil(sum(sizes[p] for p in cand) / max(target_bytes, 1))
    )
    tmp = os.path.join(tdir, f"_zopt_{tag}")
    (
        df.withColumn("_z", zorder_expr(b1, b2))
        .repartitionByRange(n_ranges, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.parquet(tmp)
    )
    new_parts = []
    for i, f in enumerate(sorted(_glob.glob(os.path.join(tmp, "*.parquet")))):
        pname = f"o{tag}z{i}"
        pdir = os.path.join(tdir, pname)
        _require_new_name(tdir, parts, pname, f"optimize tag {tag!r}")
        os.makedirs(pdir)
        os.rename(f, os.path.join(pdir, os.path.basename(f)))
        new_parts.append(pname)
    shutil.rmtree(tmp, ignore_errors=True)
    badd = _maintain_blooms(
        spark,
        warehouse,
        table,
        m,
        new_parts + [p for p in parts if p not in set(cand)],
        f"o{tag}",
    )
    swing_rebase(
        warehouse, table, base, new_parts, set(cand), blooms_add=badd
    )
    return len(cand)


def delete_rows(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicate,
    tag: str,
    mode: str = "cow",
) -> int:
    """Row-level DELETE — the Delta/Iceberg delete commit, the GDPR /
    right-to-be-forgotten primitive a training-data store must support,
    in both physical strategies:

    - ``mode="cow"`` (copy-on-write, the default): parts that contain
      matching rows are rewritten WITHOUT them (new immutable parts),
      untouched parts keep their bytes, and the manifest swings
      atomically to the mixed old/new list.  Write cost is O(affected
      parts), never a table rewrite.
    - ``mode="mor"`` (merge-on-read, Delta deletion vectors): NO part is
      rewritten — the matching rows' physical positions (relative file
      path, ``_metadata.row_index``) are written to an O(deleted rows)
      sidecar and the manifest attaches it to the affected parts; the
      read path anti-filters it.  A 1-row delete in a 1 GB part writes
      bytes proportional to ONE ROW, and two writers deleting different
      rows of the SAME part both commit (row-level rebase — deletion is
      monotone, so the union of their vectors is consistent with either
      serial order).  ``compact_table`` / ``optimize_table`` later
      materialize vectors away (Delta ``REORG ... APPLY (PURGE)``).

    ``predicate`` is a Column selecting rows to DELETE.  Returns the
    number of affected parts.

    Exactly TWO Spark jobs regardless of part count (the shape that
    survives ~800K parts at 100 TB, where a per-part driver loop would
    mean 800K sequential job launches):

    1. **Discovery** — one scan of the whole table tagging matches with
       ``input_file_name()`` and collecting the DISTINCT affected file
       set (metadata-sized: bounded by part count, not rows).  At 100 TB
       this scan is itself skipped for provably-clean parts by parquet
       footer min/max pruning when the predicate is scan-pushable —
       Catalyst already prunes row groups here via PushedFilters; a
       partition-keyed delete short-circuits to pure manifest surgery.
    2. **Rewrite** — ONE parallel job reading only the affected parts and
       writing the surviving rows as a single new part; unaffected parts
       keep their bytes and their manifest entries.

    NULL semantics: a row whose predicate evaluates to NULL is NOT a
    match (SQL ``DELETE WHERE`` three-valued logic) — such rows are
    counted out of discovery by ``coalesce(pred, false)`` and explicitly
    KEPT by ``pred IS NULL OR NOT pred`` in the rewrite, so a delete on a
    nullable column never silently erases NULL rows."""
    require(mode in ("cow", "mor"), f"unknown delete mode {mode!r}")
    base = current_version(warehouse, table)
    m_base = read_manifest(warehouse, table, base)
    parts = m_base["parts"]
    if not parts:
        return 0
    tdir = os.path.join(warehouse, table)
    if mode == "mor":
        return _delete_rows_mor(
            spark, warehouse, table, predicate, tag, base, m_base
        )
    affected = _parts_matching(
        spark, warehouse, table, parts, m_base, predicate
    )
    if not affected:
        return 0
    # DV-aware rewrite: a part with outstanding deletion vectors must
    # not resurrect its vectorized rows when rewritten (the rewrite
    # also MATERIALIZES them — the replacement carries no dv entry).
    # On a row-tracked table the rewrite carries _row_id physically so
    # surviving rows keep their stable ids.
    kept = _scan_live(spark, warehouse, table, sorted(affected), m_base)
    kept = kept.filter(predicate.isNull() | ~predicate)
    new_part = f"d{tag}"
    _require_new_name(tdir, parts, new_part, f"delete tag {tag!r}")
    kept.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # delta commit (add rewrite, drop inputs): disjoint concurrent
    # commits rebase under WriteSerializable; a concurrent rewrite of
    # the SAME parts raises.  Bloom coverage for the rewrite rides the
    # same commit — a churned table keeps pruning point lookups.
    badd = _maintain_blooms(
        spark, warehouse, table, m_base, [new_part], new_part
    )
    swing_rebase(
        warehouse, table, base, [new_part], affected, blooms_add=badd
    )
    return len(affected)


def _parts_matching(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    m: dict,
    predicate,
) -> set[str]:
    """The parts among ``parts`` holding at least one row that
    ``predicate`` matches (NULL is no match) — ONE job collecting the
    distinct matching files, metadata-sized output."""
    from urllib.parse import unquote, urlparse

    tdir = os.path.join(warehouse, table)
    probe = None
    for br in _part_branches(
        spark, warehouse, table, parts, m["specs"], m["schema"]
    ):
        # filter BEFORE projecting the (non-deterministic) file name so
        # the predicate still pushes down to each scan
        b = br.filter(F.coalesce(predicate, F.lit(False))).select(
            F.input_file_name().alias("f")
        )
        probe = b if probe is None else probe.unionByName(b)
    affected: set[str] = set()
    for r in probe.distinct().collect():
        rel = os.path.relpath(unquote(urlparse(r.f).path), tdir)
        affected.add(rel.split(os.sep)[0])
    return affected


def _write_dv(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    m: dict,
    predicate,
    dvname: str,
) -> list[str]:
    """Write deletion-vector sidecar ``dvname``: the physical positions
    of the live rows of ``parts`` that ``predicate`` matches (NULL is no
    match).  Rows an existing vector already deleted are anti-joined
    out, so sidecars stay O(newly deleted rows) and a re-delivered
    delete is a no-op.  Returns the sorted parts the sidecar covers; an
    empty sidecar is removed."""
    import shutil

    tdir = os.path.join(warehouse, table)
    rel = _rel_file_expr(tdir)
    probe = None
    for br in _part_branches(
        spark, warehouse, table, parts, m["specs"], m["schema"]
    ):
        # filter first so the predicate pushes down to the scan; the
        # row-position key is projected only for surviving matches
        b = br.filter(F.coalesce(predicate, F.lit(False))).select(
            rel.alias("f"), F.col("_metadata.row_index").alias("i")
        )
        probe = b if probe is None else probe.unionByName(b)
    live_dv = {p: ns for p, ns in m["dv"].items() if p in set(parts) and ns}
    if live_dv:
        names = sorted({n for ns in live_dv.values() for n in ns})
        old = spark.read.parquet(
            *[os.path.join(tdir, n) for n in names]
        )
        probe = probe.join(F.broadcast(old), ["f", "i"], "left_anti")
    # NO coalesce(1): it would collapse the probe SCAN into one task —
    # the sidecar may span a few files, the read path unions them anyway
    probe.write.parquet(os.path.join(tdir, dvname))
    # affected-part discovery reads the sidecar back — O(deleted rows)
    # input, part-count-bounded output
    covered = sorted(
        r["p"]
        for r in spark.read.parquet(os.path.join(tdir, dvname))
        .select(F.split("f", "/").getItem(0).alias("p"))
        .distinct()
        .collect()
    )
    if not covered:
        shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
    return covered


def _delete_rows_mor(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicate,
    tag: str,
    base: int,
    m_base: dict,
) -> int:
    """Merge-on-read half of :func:`delete_rows`: ONE job scans the
    table with the predicate pushed down, anti-filters rows an existing
    vector already deleted (sidecars stay O(newly deleted rows), and a
    re-delivered delete is a no-op commit), and writes the surviving
    matches' physical positions to a single sidecar file.  No part is
    rewritten; the commit attaches the sidecar to the affected parts
    through the row-level rebase."""
    parts = m_base["parts"]
    dvname = f"v{tag}"
    _require_new_name(
        os.path.join(warehouse, table), parts, dvname, f"delete tag {tag!r}"
    )
    affected = _write_dv(
        spark, warehouse, table, parts, m_base, predicate, dvname
    )
    if not affected:
        return 0
    swing_rebase(
        warehouse,
        table,
        base,
        [],
        dv_add={p: [dvname] for p in affected},
    )
    return len(affected)


def _stats_prove_all_match(m: dict, part: str, resolved: list) -> bool:
    """True when the manifest stats PROVE every physical row of
    ``part`` satisfies every resolved predicate ``(phys, op, enc,
    kind)`` — the precondition for dropping the part metadata-only.
    Conservative by construction: parquet string bounds may be
    inexact, but only outward (stored lo <= true min, stored hi >=
    true max), so each check below still implies all-match; any
    missing bound, null presence, or family mismatch returns False
    (the part then takes the row-level path, never a wrong drop)."""
    pstats = m["stats"].get(part)
    if not pstats:
        return False
    for phys, op, enc, kind in resolved:
        e = pstats.get(phys)
        if (
            e is None
            or e.get("n", 0) == 0
            or e.get("nulls", 0) != 0  # NULL rows never match: keep
            or "lo" not in e
            or enc is None
            or kind is None
            or e.get("k") != kind
        ):
            return False
        lo, hi = e["lo"], e["hi"]
        if op == "in":
            # provable only when the part is single-valued on the
            # column and that value is in the list
            if not (
                lo == hi and any(v == lo and k == kind for v, k in enc)
            ):
                return False
        elif not {
            "=": lo == hi == enc,
            "<": hi < enc,
            "<=": hi <= enc,
            ">": lo > enc,
            ">=": lo >= enc,
        }[op]:
            return False
    return True


def delete_where(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicates: list[tuple],
    tag: str,
    mode: str = "cow",
) -> dict:
    """Structured ``DELETE WHERE`` — :func:`delete_rows` plus the
    METADATA-ONLY fast path Delta/Iceberg take for partition-aligned
    deletes: a part whose manifest stats prove EVERY row matches is
    dropped from the manifest with zero data I/O; a part whose stats
    prove NO row matches is never opened; only BOUNDARY parts pay the
    row-level discovery + COW rewrite.  A key-range or date-partition
    retention delete over 100 TB therefore commits in O(manifest)
    metadata plus at most the boundary partitions' rewrite — the verb
    behind ``DELETE WHERE date < retention_horizon``.

    Conjunctive predicates as in :func:`prune_parts`:
    ``[(logical_col, op, literal)]`` with ops ``= < <= > >= in``.
    Three-valued logic as in SQL DELETE: NULL-predicate rows are KEPT
    (and a part containing nulls in a predicate column is never
    metadata-dropped).  Everything lands in ONE atomic commit.

    ``mode="mor"`` swaps the boundary rewrite for deletion-vector
    sidecars (:func:`delete_rows`'s merge-on-read half): the fully-
    matching parts still drop metadata-only, the boundary parts gain
    an O(matched rows) vector — a retention delete then moves ZERO
    part bytes anywhere, in one commit.

    Returns ``{"dropped": [...], "rewritten": [...]}`` (under MOR,
    "rewritten" lists the parts that gained a vector)."""
    require(mode in ("cow", "mor"), f"unknown delete mode {mode!r}")
    base = current_version(warehouse, table)
    if not base:
        return {"dropped": [], "rewritten": []}
    # parts that MIGHT contain matches (stats + bloom pruning); the
    # rest provably hold no matching row and are untouched
    kept, m = prune_parts(warehouse, table, predicates, base)
    to_phys = {logical: phys for phys, logical in m["renames"].items()}
    resolved = []
    for col, op, val in predicates:
        phys = to_phys.get(col, col)
        if op == "in":
            resolved.append(
                (
                    phys,
                    "in",
                    [(_enc_stat(e), _stat_kind(e)) for e in val],
                    _stat_kind(val[0]) if val else None,
                )
            )
        else:
            resolved.append((phys, op, _enc_stat(val), _stat_kind(val)))
    dropped = [
        p for p in kept if _stats_prove_all_match(m, p, resolved)
    ]
    boundary = [p for p in kept if p not in dropped]
    tdir = os.path.join(warehouse, table)
    pred = _predicates_column(predicates)
    affected: set[str] = set()
    added: list[str] = []
    if boundary and mode == "mor":
        # merge-on-read boundary: vectorize the matching live rows of
        # the boundary parts — zero part bytes move
        dvname = f"vd{tag}"
        _require_new_name(tdir, m["parts"], dvname, f"delete tag {tag!r}")
        dv_parts = _write_dv(
            spark, warehouse, table, boundary, m, pred, dvname
        )
        if not dropped and not dv_parts:
            return {"dropped": [], "rewritten": []}
        swing_rebase(
            warehouse,
            table,
            base,
            [],
            set(dropped),
            dv_add={p: [dvname] for p in dv_parts},
        )
        return {"dropped": sorted(dropped), "rewritten": dv_parts}
    if boundary:
        # row-level half, restricted to the boundary parts: discovery
        # (which boundary parts REALLY hold matches), then one rewrite
        # job — delete_rows' exact shape on a pruned part set
        affected = _parts_matching(spark, warehouse, table, boundary, m, pred)
        if affected:
            new_part = f"d{tag}"
            _require_new_name(
                tdir, m["parts"], new_part, f"delete tag {tag!r}"
            )
            keep_df = _scan_live(spark, warehouse, table, sorted(affected), m)
            keep_df.filter(pred.isNull() | ~pred).coalesce(
                APPEND_WRITE_FILES
            ).write.parquet(os.path.join(tdir, new_part))
            added = [new_part]
    if not dropped and not added:
        return {"dropped": [], "rewritten": []}
    removed = set(dropped) | affected
    swing_rebase(
        warehouse,
        table,
        base,
        added,
        removed,
        blooms_add=_maintain_blooms(
            spark, warehouse, table, m, added, f"d{tag}"
        ),
    )
    return {"dropped": sorted(dropped), "rewritten": sorted(affected)}


def matched_update(condition=None, assignments=None):
    """``WHEN MATCHED [AND condition] THEN UPDATE`` arm for
    :func:`merge_rows`.  ``assignments=None`` is ``SET *`` (the source
    row replaces the target row wholly); a dict ``{col: Column}`` is a
    partial ``SET col = expr`` — unassigned columns KEEP their target
    values (Delta semantics).  Conditions/exprs reference the target as
    alias ``t`` and the source as alias ``s``."""
    return ("update", condition, assignments)


def matched_delete(condition=None):
    """``WHEN MATCHED [AND condition] THEN DELETE`` arm — the CDC
    tombstone-apply verb."""
    return ("delete", condition, None)


def not_matched_insert(condition=None):
    """``WHEN NOT MATCHED [AND condition] THEN INSERT *`` arm.  The
    condition may reference only the source (alias ``s``) — there is no
    target row on this side, per the SQL MERGE grammar."""
    return ("insert", condition, None)


def not_matched_by_source_update(condition=None, assignments=None):
    """``WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET``
    arm: applies to TARGET rows with no source match.  Conditions and
    assignment exprs may reference only the target (alias ``t``) — no
    source row exists on this side, so ``assignments`` is REQUIRED
    (there is no ``SET *``).  SCALE FLAG: this arm predicates on every
    target row, making the MERGE a full-table rewrite — see
    :func:`merge_rows`."""
    require(
        bool(assignments),
        "NOT MATCHED BY SOURCE UPDATE requires explicit assignments "
        "(no source row exists to SET * from)",
    )
    return ("update", condition, assignments)


def not_matched_by_source_delete(condition=None):
    """``WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE`` arm —
    the replica-sync verb (target rows absent from the authoritative
    source feed are removed).  SCALE FLAG: full-table rewrite; see
    :func:`merge_rows`."""
    return ("delete", condition, None)


def _merge_first_arm(arms, codes, default):
    """Classify a row into the FIRST applicable arm (SQL MERGE clause
    order; NULL conditions do not apply — three-valued logic)."""
    act = default
    for i in reversed(range(len(arms))):
        _, cond, _ = arms[i]
        c = (
            F.lit(True)
            if cond is None
            else F.coalesce(cond, F.lit(False))
        )
        act = F.when(c, F.lit(codes[i])).otherwise(act)
    return act


def merge_rows(
    spark: SparkSession,
    warehouse: str,
    table: str,
    source: DataFrame,
    key: str,
    tag: str,
    when_matched: list | None = None,
    when_not_matched: list | None = None,
    merge_schema: bool = False,
    mode: str = "cow",
    when_not_matched_by_source: list | None = None,
) -> int:
    """MERGE INTO — the Delta/Iceberg copy-on-write upsert commit, the
    last CRUD verb the versioned warehouse needed (append `commit_append`,
    DELETE `delete_rows`, and now MERGE), with the FULL conditional
    grammar: an ordered list of ``WHEN MATCHED [AND cond] THEN
    UPDATE/DELETE`` arms (first arm whose condition holds applies — Delta
    clause-order semantics; a matched row no arm claims is left
    unchanged) and ``WHEN NOT MATCHED [AND cond] THEN INSERT *`` arms (a
    source row no arm claims is discarded).  Defaults reproduce the
    unconditional upsert: ``UPDATE SET *`` + ``INSERT *``.  Parts
    containing matched keys are rewritten with the arms applied;
    inserted source rows land in the same new part; untouched parts keep
    their bytes; the manifest swings atomically.  Write cost is
    O(affected parts + source), never a table rewrite.

    Mirrors the reference's upsert intent (daily_etl_pipeline.py:350-370's
    ON CONFLICT DO UPDATE) at warehouse granularity — the conditional
    DELETE arm is the CDC-apply-with-tombstones verb that upsert
    degenerates from.  ``key`` must be unique in both target and source
    (the MERGE cardinality precondition — Delta raises on multiple
    source matches for the same target row), and ``source`` must carry
    the target's exact physical schema — unless ``merge_schema=True``
    (Delta ``mergeSchema`` MERGE): source columns ABSENT from the
    target additively evolve the table schema in the SAME commit.  The
    rewritten part carries the new columns (NULL on target rows no arm
    assigned), untouched parts keep their bytes, and the commit records
    the evolved TABLE-OWNED schema in the manifest so readers surface
    NULL for pre-evolution parts with zero footer-merging I/O — the CDC
    pattern where an upstream feed grows a column mid-stream.  Without
    the flag, extra source columns remain condition-only (never
    written), as before.

    ``when_not_matched_by_source`` (``WHEN NOT MATCHED BY SOURCE``
    UPDATE/DELETE arms, the replica-sync half of the full Delta
    grammar) is offered as an EXPLICITLY SCALE-FLAGGED verb: it
    predicates on target rows with no source match, which makes EVERY
    part affected and turns the MERGE into a full-table rewrite (part
    discovery is skipped — all parts are rewritten by definition).
    At warehouse scale prefer :func:`delete_rows` with an anti-join
    predicate when the arm is a plain delete; use this form when the
    three arm families must commit ATOMICALLY (one snapshot swing).
    COW only — a full-scan verb has nothing to gain from merge-on-read
    sidecars, so ``mode="mor"`` rejects it.

    Exactly TWO Spark jobs regardless of part count (same scale shape as
    ``delete_rows``; a per-part driver loop would be ~800K sequential job
    launches at 100 TB):

    1. **Discovery** — one scan of the table inner-joined against the
       BROADCAST source key set (source is delta-sized by contract),
       collecting the DISTINCT ``input_file_name()`` set (metadata-sized).
       Any table row matching a source key lives in an affected part, so a
       source key with NO affected-part match exists nowhere in the table
       — it is an INSERT; no second existence scan is needed.  On a
       clustered layout (etl_cluster_layout) footer min/max stats bound
       discovery to the key-range parts.
    2. **Rewrite** — ONE job full-outer-joining the affected parts' rows
       with the source on ``key``: each row is classified ONCE into the
       first applicable arm (a single ``_action`` CASE column — arm
       conditions evaluate exactly once per row, Delta's contract), then
       deletes/discards are filtered and the per-column CASE projects
       the winning arm's values.  One new part; manifest =
       (parts - affected) + [new part].

    Returns the number of affected (rewritten) parts."""
    from urllib.parse import unquote, urlparse

    if when_matched is None:
        when_matched = [matched_update()]
    if when_not_matched is None:
        when_not_matched = [not_matched_insert()]
    require(
        all(kind in ("update", "delete") for kind, _, _ in when_matched),
        "when_matched arms must be matched_update/matched_delete",
    )
    require(
        all(kind == "insert" for kind, _, _ in when_not_matched),
        "when_not_matched arms must be not_matched_insert",
    )
    when_not_matched_by_source = when_not_matched_by_source or []
    require(
        all(
            kind in ("update", "delete") and (kind == "delete" or assign)
            for kind, _, assign in when_not_matched_by_source
        ),
        "when_not_matched_by_source arms must be "
        "not_matched_by_source_update/_delete",
    )
    require(mode in ("cow", "mor"), f"unknown merge mode {mode!r}")
    require(
        not (when_not_matched_by_source and mode == "mor"),
        "WHEN NOT MATCHED BY SOURCE is a full-table rewrite: COW only",
    )
    base = current_version(warehouse, table)
    m_base = read_manifest(warehouse, table, base)
    parts, specs = m_base["parts"], m_base["specs"]
    tdir = os.path.join(warehouse, table)
    new_part = f"m{tag}"
    _require_new_name(tdir, parts, new_part, f"merge tag {tag!r}")
    # enforce the MERGE cardinality precondition Delta enforces: a
    # duplicate (or NULL) source key would fan out through the
    # full-outer join and commit corrupt rows.  One aggregate over the
    # delta-sized source — deferred into a thunk so the part-discovery
    # scan (read-only, independent) can run overlapped with it (§2.6);
    # both must settle before any byte is written.
    def _cardinality_row():
        return source.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key).alias("nk"),
            F.countDistinct(key).alias("nd"),
        ).collect()[0]
    affected: set[str] = set()
    # additive schema evolution: source columns the target lacks become
    # new table columns (merge_schema=True), committed with the part
    new_fields = []
    evolved_schema_json = None
    if merge_schema and parts:
        from pyspark.sql.types import StructType

        if m_base["schema"] is not None:
            import json as _json

            tgt_struct = StructType.fromJson(_json.loads(m_base["schema"]))
        else:
            tgt_struct = _read_parts(
                spark, warehouse, table, parts[:1], m_base["specs"]
            ).schema
        have = {f.name for f in tgt_struct.fields}
        new_fields = [
            f for f in source.schema.fields if f.name not in have
        ]
        if new_fields:
            evolved_schema_json = StructType(
                list(tgt_struct.fields) + new_fields
            ).json()
    if parts and when_not_matched_by_source:
        # the by-source arms predicate on EVERY target row: all parts
        # are affected by definition, so discovery is skipped
        affected = set(parts)
        sc_row = _cardinality_row()
    elif parts:

        def _discover():
            probe = None
            for br in _part_branches(
                spark, warehouse, table, parts, specs, m_base["schema"]
            ):
                # project (key, file) BEFORE the join —
                # input_file_name() is single-source only, and this
                # keeps the probe slim, the late-materialization shape
                b = br.select(F.col(key), F.input_file_name().alias("f"))
                probe = b if probe is None else probe.unionByName(b)
            return (
                probe.join(
                    F.broadcast(source.select(key).distinct()),
                    key,
                    "inner",
                )
                .select("f")
                .distinct()
                .collect()
            )

        # two independent read-only jobs — cardinality gate and part
        # discovery — overlapped (§2.6): the gate still settles before
        # any write or commit below
        sc_row, hits = overlap(_cardinality_row, _discover)
        for r in hits:
            rel = os.path.relpath(unquote(urlparse(r.f).path), tdir)
            affected.add(rel.split(os.sep)[0])
    else:
        sc_row = _cardinality_row()
    require(
        sc_row["n"] == sc_row["nk"] == sc_row["nd"],
        f"source keys must be unique and non-null "
        f"(rows={sc_row['n']}, non-null={sc_row['nk']}, "
        f"distinct={sc_row['nd']})",
    )
    # arm conditions follow SQL MERGE three-valued logic: NULL = arm
    # does not apply (coalesce to false), and arms are tried IN ORDER
    _first_arm = _merge_first_arm

    KEEP, DISCARD = 0, -1  # keep target row unchanged / drop source row
    m_codes = list(range(1, len(when_matched) + 1))
    i_codes = [100 + j for j in range(len(when_not_matched))]
    bs_codes = [200 + j for j in range(len(when_not_matched_by_source))]
    delete_codes = [
        c
        for c, (kind, _, _) in zip(
            m_codes + bs_codes,
            when_matched + when_not_matched_by_source,
        )
        if kind == "delete"
    ]
    tracked = m_base["row_base"] is not None
    if affected and mode == "mor":
        return _merge_rows_mor(
            spark,
            warehouse,
            table,
            source,
            key,
            tag,
            when_matched,
            when_not_matched,
            base,
            m_base,
            sorted(affected),
            new_fields,
            evolved_schema_json,
            tracked,
        )
    if affected:
        # DV-aware: rewriting a part must not resurrect its vectorized
        # rows (and materializes them — the new part has no dv entry).
        # Row-tracked rewrites carry _row_id: updates KEEP the target
        # row's id (an update is the same row), inserts mint fresh ids
        # past the high-water mark.
        tgt = _scan_live(spark, warehouse, table, sorted(affected), m_base)
        cols = tgt.columns
        require(
            "_action" not in cols and "_action" not in source.columns,
            "'_action' is reserved by MERGE row classification",
        )
        joined = tgt.alias("t").join(
            source.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
        )
        action = (
            # source key is non-null by contract: s.key NULL <=> no
            # source row joined <=> target-only (and vice versa for t)
            F.when(
                F.col(f"s.{key}").isNull(),
                _first_arm(
                    when_not_matched_by_source, bs_codes, F.lit(KEEP)
                ),
            )
            .when(
                F.col(f"t.{key}").isNull(),
                _first_arm(when_not_matched, i_codes, F.lit(DISCARD)),
            )
            .otherwise(_first_arm(when_matched, m_codes, F.lit(KEEP)))
        )
        surviving = joined.withColumn("_action", action).filter(
            ~F.col("_action").isin([DISCARD] + delete_codes)
        )

        new_types = {f.name: f.dataType for f in new_fields}
        if tracked:
            # fresh ids for insert-arm rows: hwm + dense rank among the
            # inserts (delta-sized window, deterministic by source key)
            _fresh_id = F.lit(m_base["row_hwm"]) + F.row_number().over(
                Window.partitionBy(F.col("_action") >= 100).orderBy(
                    F.col(f"s.{key}")
                )
            ) - F.lit(1)

        def _value(c: str) -> F.Column:
            if c == "_row_id":
                # never source-supplied: updates keep the target id,
                # inserts mint past the high-water mark
                w = None
                for code in i_codes:
                    w = (w.when if w is not None else F.when)(
                        F.col("_action") == code, _fresh_id
                    )
                t = F.col("t._row_id")
                return (w.otherwise(t) if w is not None else t).alias(c)
            # an EVOLVED column has no target side: its "keep the target
            # value" default is NULL of the source's type (Delta
            # NULL-backfills unmatched rows on schema-evolving MERGE)
            tdef = (
                F.lit(None).cast(new_types[c])
                if c in new_types
                else F.col(f"t.{c}")
            )
            w = None
            for code, (kind, _, assign) in zip(
                m_codes + bs_codes,
                when_matched + when_not_matched_by_source,
            ):
                if kind != "update":
                    continue
                # SET * -> source column; partial SET -> assigned expr,
                # unassigned columns keep the target value (Delta).
                # By-source arms always carry assignments (enforced).
                v = (
                    F.col(f"s.{c}")
                    if assign is None
                    else assign.get(c, tdef)
                )
                w = (w.when if w is not None else F.when)(
                    F.col("_action") == code, v
                )
            for code in i_codes:
                w = (w.when if w is not None else F.when)(
                    F.col("_action") == code, F.col(f"s.{c}")
                )
            return (w.otherwise(tdef) if w is not None else tdef).alias(c)

        merged = surviving.select(
            *[_value(c) for c in cols + [f.name for f in new_fields]]
        )
    else:
        # pure insert: no key matched anywhere, so only the not-matched
        # arms apply — a source row is inserted iff ANY arm claims it
        # (insert arms are all INSERT *, so first-match == any-match)
        s = source.alias("s")
        conds = [cond for _, cond, _ in when_not_matched]
        if any(c is None for c in conds):
            merged = s
        elif conds:
            from functools import reduce

            merged = s.filter(
                reduce(
                    lambda a, b: a | b,
                    [F.coalesce(c, F.lit(False)) for c in conds],
                )
            )
        else:
            merged = s.limit(0)
        if parts:
            # a CDC source may carry extra condition-only columns (e.g.
            # _change_type) — INSERT * means the TARGET's schema (plus
            # the evolving columns under merge_schema), read from the
            # manifest or a footer, never the source's.  A footer from
            # a COW-rewritten part carries the hidden _row_id column —
            # never part of the logical schema, and the source has no
            # such column (pure-insert ids are minted VIRTUALLY at
            # commit via row_base), so it is filtered out here.
            tcols = [
                c
                for c in _read_parts(
                    spark, warehouse, table, parts[:1], specs,
                    m_base["schema"],
                ).columns
                if c != "_row_id"
            ]
            merged = merged.select(
                *(tcols + [f.name for f in new_fields])
            )
    merged.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # arms can assign arbitrary values, so MERGE output is CHECKed like
    # any other delta before the commit
    _enforce_constraints(spark, warehouse, table, new_part)
    # delta commit: disjoint concurrent commits rebase, overlapping
    # rewrites of the same parts raise (WriteSerializable); a
    # schema-evolving MERGE records the evolved table schema atomically
    # with its part swap, and bloom coverage for the merge output rides
    # the same commit
    swing_rebase(
        warehouse,
        table,
        base,
        [new_part],
        affected,
        schema=evolved_schema_json,
        blooms_add=_maintain_blooms(
            spark, warehouse, table, m_base, [new_part], new_part
        ),
        # advance the id high-water mark past anything the insert arms
        # minted (bounded by the source row count).  Only the MATCHED
        # path materializes ids into part bytes; a pure insert carries
        # no _row_id column — its ids are minted virtually at commit
        # from the CURRENT watermark, so it neither needs the floor nor
        # the stale-watermark conflict the floor triggers.
        row_hwm_min=(
            m_base["row_hwm"] + int(sc_row["n"])
            if tracked and affected
            else 0
        ),
    )
    return len(affected)


def _merge_rows_mor(
    spark: SparkSession,
    warehouse: str,
    table: str,
    source: DataFrame,
    key: str,
    tag: str,
    when_matched: list,
    when_not_matched: list,
    base: int,
    m_base: dict,
    affected: list[str],
    new_fields: list,
    evolved_schema_json: str | None,
    tracked: bool,
) -> int:
    """Merge-on-read half of :func:`merge_rows` (Delta's DV-enabled
    MERGE): matched rows an arm claims become deletion-vector entries in
    ONE O(matched rows) sidecar — their parts keep every byte — and the
    update images plus the inserts land together as ONE new part.  Write
    cost is O(source + sidecar) instead of O(affected parts): the shape
    a CDC feed trickling updates into large parts needs (a 10-row update
    against a 1 GB part writes ~10 rows twice, not 1 GB).

    Composed with row tracking: an update keeps the target row's stable
    ``_row_id`` (the MOR update is a DV entry + a re-insert carrying the
    old id, materialized physically in the new part); inserts mint past
    the high-water mark.  Because updates mint nothing, two concurrent
    update/delete-only MOR merges touching the SAME part with disjoint
    keys both land through the row-level rebase; only insert-minting
    writers serialize on the id watermark.

    ONE scan of the affected parts (staged delta-sized), then sidecar +
    part writes read the staging — the affected-part bytes are read
    exactly once regardless of how many outputs the merge produces."""
    import shutil

    specs = m_base["specs"]
    tdir = os.path.join(warehouse, table)
    new_part = f"m{tag}"  # collision-checked by merge_rows
    dvname = f"vm{tag}"
    _require_new_name(tdir, m_base["parts"], dvname, f"merge tag {tag!r}")
    stage = os.path.join(tdir, f"_mstage.{tag}")
    require(
        not os.path.exists(stage), f"merge tag {tag!r} staging collides"
    )
    KEEP, DISCARD = 0, -1
    m_codes = list(range(1, len(when_matched) + 1))
    i_codes = [100 + j for j in range(len(when_not_matched))]
    delete_codes = [
        c
        for c, (kind, _, _) in zip(m_codes, when_matched)
        if kind == "delete"
    ]
    tgt = _scan_live(spark, warehouse, table, affected, m_base, keep_pos=True)
    cols = [c for c in tgt.columns if c not in (_DV_FILE, _DV_IDX)]
    require(
        "_action" not in cols and "_action" not in source.columns,
        "'_action' is reserved by MERGE row classification",
    )
    new_types = {f.name: f.dataType for f in new_fields}
    out_cols = cols + [f.name for f in new_fields]
    # matched rows only: the source is delta-sized by contract, so the
    # probe is a broadcast hash join — no shuffle of the affected parts
    joined = tgt.alias("t").join(
        F.broadcast(source).alias("s"),
        F.col(f"t.{key}") == F.col(f"s.{key}"),
        "inner",
    )
    action = _merge_first_arm(when_matched, m_codes, F.lit(KEEP))

    def _upd(c: str) -> F.Column:
        if c == "_row_id":
            # a MOR update is the SAME row re-materialized: it keeps
            # the target's stable id
            return F.col("t._row_id").alias(c)
        tdef = (
            F.lit(None).cast(new_types[c])
            if c in new_types
            else F.col(f"t.{c}")
        )
        w = None
        for code, (kind, _, assign) in zip(m_codes, when_matched):
            if kind != "update":
                continue
            v = F.col(f"s.{c}") if assign is None else assign.get(c, tdef)
            w = (w.when if w is not None else F.when)(
                F.col("_action") == code, v
            )
        return (w.otherwise(tdef) if w is not None else tdef).alias(c)

    # ONE job over the affected parts stages the delta-sized matched
    # set: position key + classified arm + post-update images.  The
    # MATCHED source key is staged separately (`_mkey`) because an
    # update arm may reassign the key column itself — the insert half
    # must anti-join on what the source row MATCHED, not on the
    # post-update image (else a key-rewriting update would also
    # insert its source row).
    require(
        "_mkey" not in cols and "_mkey" not in source.columns,
        "'_mkey' is reserved by MERGE row classification",
    )
    joined.withColumn("_action", action).select(
        F.col(_DV_FILE),
        F.col(_DV_IDX),
        F.col("_action"),
        F.col(f"s.{key}").alias("_mkey"),
        *[_upd(c) for c in out_cols],
    ).write.parquet(stage)
    try:
        st = spark.read.parquet(stage)
        claimed = st.filter(F.col("_action") != KEEP)
        # vectorize every claimed row (update AND delete): its old image
        # must disappear from the old part's reads
        claimed.select(
            F.col(_DV_FILE).alias("f"),
            F.col(_DV_IDX).cast("long").alias("i"),
        ).coalesce(1).write.parquet(os.path.join(tdir, dvname))
        dv_parts = sorted(
            r["p"]
            for r in spark.read.parquet(os.path.join(tdir, dvname))
            .select(F.split("f", "/").getItem(0).alias("p"))
            .distinct()
            .collect()
        )
        updates = claimed.filter(
            ~F.col("_action").isin(delete_codes)
        ).select(*out_cols)
        # a source key present in the staging matched SOMETHING (even an
        # arm-less KEEP row) — everything else is the insert half
        ins = source.alias("s").join(
            st.select(F.col("_mkey").alias(key)).distinct(),
            key,
            "left_anti",
        )
        ins = ins.withColumn(
            "_action", _merge_first_arm(when_not_matched, i_codes, F.lit(DISCARD))
        ).filter(F.col("_action") != DISCARD)
        if tracked:
            # fresh ids past the watermark; delta-sized single-partition
            # window, deterministic by source key
            ins = ins.withColumn(
                "_row_id",
                F.lit(m_base["row_hwm"])
                + F.row_number().over(Window.orderBy(F.col(key)))
                - F.lit(1),
            )
        ins = ins.select(*out_cols)
        # the insert count only feeds the row-id high-water-mark advance
        # below — untracked tables never read it, so they skip the whole
        # extra execution of the insert plan (§1.2; the plan still runs
        # once inside the part write either way)
        n_ins = ins.count() if tracked else 0
        updates.unionByName(ins).coalesce(
            APPEND_WRITE_FILES
        ).write.parquet(os.path.join(tdir, new_part))
        npath = os.path.join(tdir, new_part)
        n_new = path_rows(npath)
        added = [new_part]
        if n_new == 0:
            # delete-only merge with nothing to insert: sidecar-only
            shutil.rmtree(npath, ignore_errors=True)
            added = []
        if not dv_parts and not added:
            shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
            return 0
        if added:
            _enforce_constraints(spark, warehouse, table, new_part)
        if not dv_parts:
            shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
        swing_rebase(
            warehouse,
            table,
            base,
            added,
            dv_add={p: [dvname] for p in dv_parts},
            schema=evolved_schema_json,
            blooms_add=_maintain_blooms(
                spark, warehouse, table, m_base, added, new_part
            ),
            # updates keep existing ids — only INSERTS mint, so an
            # insert-free MOR merge stays concurrency-compatible with
            # other writers under the stale-watermark conflict rule
            row_hwm_min=(
                m_base["row_hwm"] + n_ins if tracked and n_ins else 0
            ),
        )
        return len(dv_parts)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def wap_publish(
    spark: SparkSession,
    warehouse: str,
    table: str,
    staged_parts: list[str],
    key: str = "event_id",
    max_retries: int = 5,
) -> bool:
    """Write-audit-publish — the Iceberg WAP / Delta staging pattern: a
    delta is WRITTEN as unpublished part dirs, AUDITED against the live
    snapshot, and PUBLISHED by a single CAS manifest swing only if the
    audit passes.  A failed audit leaves the table bit-identical (the
    staged parts are simply never referenced — vacuum reclaims them);
    readers can never observe un-audited data because visibility IS the
    manifest.

    Audit here = ingestion contract for a keyed append: no NULL keys, no
    duplicate keys WITHIN the staged delta (at-least-once redelivery can
    land twice in one staging), and no keys already published.  Three
    short-circuiting jobs (``limit(1)`` existence probes); at 100 TB the
    published-side membership probe is the same partition/bucket-pruned
    anti-join shape as the MERGE path, O(staged) not O(table).

    Stage parts under a ``_stage_`` name prefix to make them invisible
    to a concurrently running ``vacuum_table`` (which reclaims only
    un-prefixed unreferenced dirs); publish PROMOTES them by renaming to
    the permanent (prefix-stripped) name before the manifest swing.
    Un-prefixed staged names also publish, but are then racing vacuum.

    Concurrency: promotion targets are validated against the disk AND
    every retained manifest BEFORE any rename (a mid-loop collision
    would strand a half-promoted staging), and a losing CAS swing
    restores the ``_stage_`` names and RE-RUNS the audit against the
    winner's snapshot — the winner may have published overlapping keys,
    so a blind swing retry would break the uniqueness contract.  After
    ``max_retries`` lost races the staging is left intact (still
    vacuum-fenced) and the conflict propagates.
    Returns True iff published."""
    if not staged_parts:
        return True
    tdir = os.path.join(warehouse, table)
    final_of = {
        p: (p[len("_stage_"):] if p.startswith("_stage_") else p)
        for p in staged_parts
    }
    for _ in range(max_retries):
        ver = current_version(warehouse, table)
        # validate EVERY promotion target at the top of EACH attempt —
        # not just once before the loop: after a lost CAS race the
        # winner may have committed a part under a colliding name, and
        # a mid-loop os.rename onto an existing directory would strand
        # a half-promoted staging.  Raising here is clean: all parts
        # are still staged (the previous attempt un-promoted on loss).
        retained = {
            p
            for v in list_versions(warehouse, table)
            for p in (manifest_parts(warehouse, table, v) or [])
        }
        for p, name in final_of.items():
            require(
                name == p
                or (
                    name not in retained
                    and not os.path.exists(os.path.join(tdir, name))
                ),
                f"promotion target {name!r} collides with an existing part",
            )
        staged = spark.read.parquet(
            *[os.path.join(tdir, p) for p in staged_parts]
        )
        # the audit's probes — null key, intra-staging duplicate,
        # CHECK/generated violation, already-published key — are
        # independent read-only jobs over the staged delta; run them as
        # ONE overlap group (§2.6) instead of four sequential
        # short-circuiting probes.  The audit VERDICT is identical
        # (publish iff every probe is clean); the only trade is that a
        # FAILING audit now pays all probes instead of stopping at the
        # first — failed audits are the rare path, and each probe is
        # still a limit(1) short-circuit job.
        from spark_spotify.functions.concurrency import overlap

        probes = [
            lambda: staged.filter(F.col(key).isNull())
            .limit(1)
            .count(),
            lambda: staged.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count(),
        ]
        # table CHECK constraints are part of the audit: WAP is the one
        # commit path that doesn't go through _enforce_constraints, and
        # an un-audited constraint violation must fail the publish (the
        # staging stays intact for inspection, like any failed audit)
        m_cur = read_manifest(warehouse, table, ver)
        if m_cur["constraints"] or m_cur["generated"]:
            chk = _logical(staged, m_cur)
            checks = dict(m_cur["constraints"])
            missing_generated = False
            for gcol, gexpr in m_cur["generated"].items():
                # a staged part MISSING a generated column fails the
                # audit: the bytes are already written, so it cannot be
                # materialized post-hoc the way commit_append does
                if gcol not in chk.columns:
                    missing_generated = True
                    break
                checks[f"generated:{gcol}"] = f"{gcol} <=> ({gexpr})"
            if missing_generated:
                return False
            if checks:
                probes.append(
                    lambda chk=chk, checks=checks: chk.filter(
                        _violation_filter(checks)
                    )
                    .limit(1)
                    .count()
                )
        published = read_table(spark, warehouse, table, version=ver or None)
        if published is not None:
            probes.append(
                lambda: staged.join(
                    published.select(key), key, "left_semi"
                )
                .limit(1)
                .count()
            )
        if any(n > 0 for n in overlap(*probes)):
            return False
        promoted = []
        for p in staged_parts:
            name = final_of[p]
            if name != p:
                os.rename(
                    os.path.join(tdir, p), os.path.join(tdir, name)
                )
                promoted.append((p, name))
        try:
            commit(
                warehouse,
                table,
                parts=(manifest_parts(warehouse, table) or [])
                + list(final_of.values()),
                expected_version=ver,
            )
            return True
        except CommitConflictError:
            # lost the race: un-promote so the delta stays staged (still
            # vacuum-fenced, still retryable), then re-audit vs the winner
            for p, name in promoted:
                os.rename(
                    os.path.join(tdir, name), os.path.join(tdir, p)
                )
    raise CommitConflictError(
        f"{table}: publish lost {max_retries} consecutive commit races"
    )


Z_GRID_BITS = 5  # both dims normalized to a 32-cell grid before interleave


def zorder_expr(u_bucket: str, d_bucket: str) -> F.Column:
    """Bit-interleave two {Z_GRID_BITS}-bit bucket expressions into a
    Z-value — one generated SQL string, evaluated in whole-stage
    codegen."""
    terms = []
    for i in range(Z_GRID_BITS):
        terms.append(
            f"shiftleft((shiftright({u_bucket}, {i}) & 1), {2 * i})"
        )
        terms.append(
            f"shiftleft((shiftright({d_bucket}, {i}) & 1), {2 * i + 1})"
        )
    return F.expr(" + ".join(terms))
