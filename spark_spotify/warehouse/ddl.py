"""Metadata verbs: row tracking, tags, vacuum, restore, clone, CHECK
constraints, generated columns and schema evolution.

Apart from the validation scans of ADD CONSTRAINT and generated columns,
each verb is one manifest commit (or, for vacuum, file deletion driven
by the manifests) — no part bytes are rewritten.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions import require
from spark_spotify.warehouse.manifest import (
    _STAMPED,
    MANIFEST_PREFIX,
    _put_if_absent,
    commit,
    current_version,
    list_versions,
    read_manifest,
)
from spark_spotify.warehouse.scan import _logical, _read_parts, read_table


class ConstraintViolationError(RuntimeError):
    """A write (or ADD CONSTRAINT backfill check) found rows for which a
    table CHECK constraint evaluates to FALSE."""


def enable_row_tracking(warehouse: str, table: str) -> int:
    """Turn on ROW TRACKING (Delta row ids / row lineage): from this
    commit every row has a STABLE 64-bit id that survives COW rewrites,
    readable via :func:`read_table_with_row_ids` — the identity a
    downstream incremental consumer can key state on across OPTIMIZE /
    DELETE / MERGE churn.  Enabling is one metadata commit: existing
    files get base ids assigned from their footers (O(files) metadata,
    no data rewrite); future appends get bases at their own commit;
    rewrites materialize ids physically.  Idempotent."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: enable row tracking before any commit")
    if read_manifest(warehouse, table, cur)["row_base"] is not None:
        return cur
    return commit(warehouse, table, row_base={})


_REF_PREFIX = "_ref."


def tag_version(
    warehouse: str, table: str, name: str, version: int | None = None
) -> int:
    """Iceberg-style TAG — a named, immutable ref pinning a snapshot
    version (``CREATE TAG release-v1 AS OF VERSION n``): the handle a
    reproducible training run or audit keeps instead of a raw version
    number.  One metadata file (``_ref.{{name}}`` holding the version),
    claimed with the warehouse's put-if-absent, so two writers can never
    own the same name and the ref is never seen empty (a duplicate name
    raises :class:`FileExistsError`) — tags are immutable; re-pointing is
    drop + re-create.  :func:`vacuum_table` retains every tagged
    version automatically, so a tag is a GC root, exactly Iceberg's
    ``expire_snapshots`` contract.  Returns the pinned version."""
    import re as _re

    require(
        bool(_re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name)),
        f"invalid tag name {name!r}",
    )
    vs = list_versions(warehouse, table)
    require(bool(vs), f"{table}: tag on an uncommitted table")
    v = vs[-1] if version is None else version
    require(v in vs, f"{table}: no committed version {v}")
    _put_if_absent(
        os.path.join(warehouse, table, f"{_REF_PREFIX}{name}"), str(v)
    )
    return v


def list_tags(warehouse: str, table: str) -> dict[str, int]:
    """Name -> pinned version for every tag on the table."""
    tdir = os.path.join(warehouse, table)
    out: dict[str, int] = {}
    if not os.path.isdir(tdir):
        return out
    for entry in os.listdir(tdir):
        if entry.startswith(_REF_PREFIX):
            with open(os.path.join(tdir, entry)) as fh:
                out[entry[len(_REF_PREFIX) :]] = int(fh.read().strip())
    return out


def drop_tag(warehouse: str, table: str, name: str) -> None:
    """Remove a tag; its snapshot becomes reclaimable at the next
    vacuum unless otherwise retained."""
    path = os.path.join(warehouse, table, f"{_REF_PREFIX}{name}")
    require(os.path.exists(path), f"{table}: no tag {name!r}")
    os.remove(path)


def read_table_tag(
    spark: SparkSession, warehouse: str, table: str, name: str
) -> DataFrame:
    """Snapshot read at a named tag (``VERSION AS OF`` resolved through
    the ref) — raises if the tag does not exist."""
    tags = list_tags(warehouse, table)
    require(name in tags, f"{table}: no tag {name!r}")
    return read_table(spark, warehouse, table, version=tags[name])


def vacuum_table(
    warehouse: str,
    table: str,
    retain_versions: set[int] | None = None,
    retain_hours: float | None = None,
) -> list[str]:
    """Retention garbage collection — Delta ``VACUUM`` / Iceberg
    ``expire_snapshots`` on the manifest-versioned warehouse: drop every
    manifest version outside the retention set (the live version is
    always retained), then delete every part directory referenced by NO
    surviving manifest.  Retention is ``retain_versions`` (explicit
    pins) ∪ versions committed within the last ``retain_hours`` (Delta's
    ``RETAIN n HOURS``, resolved against each manifest's commit
    wall-clock; pre-timestamp manifests cannot prove their age and are
    conservatively RETAINED).  Time travel to any retained version keeps
    working because its part list survives intact; only parts that no
    retained snapshot can ever read are reclaimed.  Pure metadata + local
    FS work — no Spark job (at 100 TB: an object-store listing + delete
    batch driven by the manifest diff, never a data scan).

    Returns the sorted list of removed part names."""
    import shutil

    vs = list_versions(warehouse, table)
    if not vs:
        return []
    # tags are GC roots (Iceberg expire_snapshots semantics)
    retained = (
        set(retain_versions or ())
        | {vs[-1]}
        | set(list_tags(warehouse, table).values())
    )
    if retain_hours is not None:
        horizon = time.time() - retain_hours * 3600.0
        for v in vs:
            ts = read_manifest(warehouse, table, v)["ts"]
            if ts is None or ts >= horizon:
                retained.add(v)
    tdir = os.path.join(warehouse, table)
    for v in vs:
        if v not in retained:
            os.remove(os.path.join(tdir, f"{MANIFEST_PREFIX}{v}"))
    referenced: set[str] = set()
    for v in sorted(retained & set(vs)):
        mv = read_manifest(warehouse, table, v)
        referenced.update(mv["parts"])
        # deletion-vector sidecars referenced by a retained snapshot are
        # as load-bearing as its parts — reclaiming one would resurrect
        # deleted rows on that snapshot's reads; bloom sidecars likewise
        # (a missing one would fail that snapshot's prune planning)
        referenced.update(n for ns in mv["dv"].values() for n in ns)
        referenced.update(n for ns in mv["blooms"].values() for n in ns)
    removed: list[str] = []
    for entry in os.listdir(tdir):
        # "_"-prefixed entries are metadata and in-flight stagings
        # (manifests, commit temp files, WAP "_stage_*" parts pending
        # audit) — never data GC candidates, so a vacuum racing a
        # staged-but-unpublished commit cannot delete its parts
        if entry.startswith("_"):
            continue
        if entry not in referenced:
            shutil.rmtree(os.path.join(tdir, entry))
            removed.append(entry)
    return sorted(removed)


def restore_table(warehouse: str, table: str, to_version: int) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` — Delta's undo verb: commit
    a NEW head whose entire content (part list, partition specs, column
    mapping, drops, file stats) is exactly the target version's.
    Metadata-only — zero part bytes move at any table size — and
    history-preserving: the restore is itself a commit, so the undone
    versions stay travel-able and a restore can itself be restored.  The
    re-referenced parts are vacuum-safe again because vacuum always
    retains the live head.  Raises if the target's parts were already
    vacuumed away (Delta fails identically once data files are gone)."""
    vs = list_versions(warehouse, table)
    require(
        to_version in vs, f"{table}: no committed version {to_version}"
    )
    m = read_manifest(warehouse, table, to_version)
    tdir = os.path.join(warehouse, table)
    needed = (
        list(m["parts"])
        + [n for ns in m["dv"].values() for n in ns]
        + [n for ns in m["blooms"].values() for n in ns]
    )
    missing = [
        p for p in needed if not os.path.isdir(os.path.join(tdir, p))
    ]
    require(
        not missing, f"{table}: restore target parts vacuumed: {missing}"
    )
    return commit(
        warehouse,
        table,
        **{k: v for k, v in m.items() if k not in _STAMPED},
    )


def _violation_filter(constraints: dict[str, str]) -> F.Column:
    """Rows for which ANY constraint evaluates to FALSE — SQL CHECK
    three-valued logic: TRUE and UNKNOWN (NULL) both satisfy, so a
    constraint on a nullable column rejects only provably-bad rows."""
    from functools import reduce

    return reduce(
        lambda a, b: a | b,
        [~F.coalesce(F.expr(e), F.lit(True)) for e in constraints.values()],
    )


def _apply_generated(
    delta: DataFrame, warehouse: str, table: str
) -> DataFrame:
    """Materialize the table's GENERATED columns on an incoming delta
    (Delta generated-column write semantics): a declared column the
    writer did not supply is computed from its expression; a supplied
    one is left as-is and VALIDATED against the expression by the same
    post-write scan that enforces CHECK constraints.  Expressions name
    logical columns."""
    gen = read_manifest(warehouse, table)["generated"]
    for col, expr in gen.items():
        if col not in delta.columns:
            delta = delta.withColumn(col, F.expr(expr))
    return delta


def add_generated_column(
    spark: SparkSession, warehouse: str, table: str, name: str, expr: str
) -> int:
    """Declare ``name`` as a GENERATED column (``name = expr``) — the
    last piece of the Delta schema feature set next to CHECK constraints
    and column mapping.  The column must already exist PHYSICALLY in
    every committed row (Delta likewise only allows generated columns
    from table creation): declaring an absent column would leave mixed
    parts whose multi-path scan resolves the schema from an arbitrary
    footer, making the column's presence read-nondeterministic.  Every
    existing row is validated against the expression first (the same
    backfill contract as ADD CONSTRAINT); from this commit on, writes
    materialize the column when omitted and validate it when supplied.
    One metadata commit."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: declare generated on an uncommitted table")
    m = read_manifest(warehouse, table, cur)
    require(
        name not in m["generated"],
        f"generated column {name!r} already declared",
    )
    df = read_table(spark, warehouse, table)
    require(
        df is not None and name in df.columns,
        f"{table}: generated column {name!r} must exist physically "
        f"(write it in the creating commit)",
    )
    bad = df.filter(~F.col(name).eqNullSafe(F.expr(expr))).count()
    if bad:
        raise ConstraintViolationError(
            f"{table}: {bad} existing row(s) contradict generated "
            f"column {name!r} = ({expr})"
        )
    return commit(
        warehouse,
        table,
        expected_version=cur,
        generated={**m["generated"], name: expr},
    )


def _enforce_constraints(
    spark: SparkSession, warehouse: str, table: str, part: str
) -> None:
    """CHECK enforcement at commit time: validate the just-written delta
    part against the table's constraints BEFORE the manifest swings — on
    violation the staged part directory is removed and
    :class:`ConstraintViolationError` raised, so a failed write leaves
    no trace (the WAP shape, fused into every commit).  Cost is one
    O(delta) scan, and ONLY when the table declares constraints;
    constraint expressions name LOGICAL columns, so the check applies
    the manifest's drops/renames to the raw part first.  DELETE commits
    skip enforcement by construction: removing rows cannot create a
    CHECK violation."""
    m = read_manifest(warehouse, table)
    if not m["constraints"] and not m["generated"]:
        return
    df = _logical(
        spark.read.parquet(os.path.join(warehouse, table, part)), m
    )
    # generated columns validate in the SAME scan: a writer-supplied
    # value must null-safe-equal its expression (Delta rejects the write
    # otherwise); `<=>` never yields UNKNOWN, so the CHECK three-valued
    # wrapper passes through exactly the contradictions
    checks = dict(m["constraints"])
    for col, e in m["generated"].items():
        if col in df.columns:
            checks[f"generated:{col}"] = f"{col} <=> ({e})"
    if not checks:
        return
    bad = df.filter(_violation_filter(checks)).count()
    if bad:
        import shutil

        shutil.rmtree(
            os.path.join(warehouse, table, part), ignore_errors=True
        )
        raise ConstraintViolationError(
            f"{table}/{part}: {bad} row(s) violate CHECK/generated "
            f"contracts {sorted(checks)}"
        )


def add_constraint(
    spark: SparkSession, warehouse: str, table: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`` — Delta
    semantics: every EXISTING row must already satisfy the constraint
    (one full-table validation scan, the same price Delta pays), then
    one metadata commit registers it; from that commit on, every
    append/COW-merge validates its delta before swinging the manifest.
    On violation the table is left untouched."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: add constraint on an uncommitted table")
    m = read_manifest(warehouse, table, cur)
    require(
        name not in m["constraints"], f"constraint {name!r} already exists"
    )
    df = read_table(spark, warehouse, table)
    if df is not None:
        bad = df.filter(_violation_filter({name: expr})).count()
        if bad:
            raise ConstraintViolationError(
                f"{table}: {bad} existing row(s) violate {name!r} ({expr})"
            )
    return commit(
        warehouse,
        table,
        expected_version=cur,
        constraints={**m["constraints"], name: expr},
    )


def drop_constraint(warehouse: str, table: str, name: str) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT`` — one metadata commit."""
    cur = current_version(warehouse, table)
    m = read_manifest(warehouse, table, cur)
    require(name in m["constraints"], f"no constraint {name!r}")
    cons = {k: v for k, v in m["constraints"].items() if k != name}
    return commit(
        warehouse, table, expected_version=cur, constraints=cons
    )


def clone_table(
    warehouse: str,
    src: str,
    dst_warehouse: str,
    dst: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """SHALLOW CLONE — Delta ``CREATE TABLE ... CLONE``: a new table
    whose v1 references the SOURCE's bytes with zero data copy (hard
    links per file here; path references in an object store), carrying
    the full schema state (column mapping, drops, specs, stats,
    constraints, generated columns) of the cloned version.  The clone
    is immediately independent: its writes land in its own directory
    (COW rewrites replace whole parts, appends add new ones), its
    VACUUM unlinks only its own links — the dev/test staging pattern
    that lets a pipeline rehearse a migration against production bytes
    without copying or endangering them."""
    import shutil

    require(
        current_version(warehouse, src) > 0,
        f"{src}: clone of an uncommitted table",
    )
    m = read_manifest(warehouse, src, version)
    sdir = os.path.join(warehouse, src)
    ddir = os.path.join(dst_warehouse, dst)
    require(
        not list_versions(dst_warehouse, dst),
        f"{dst}: clone target already has commits",
    )
    dv_names = sorted(
        {n for ns in m["dv"].values() for n in ns}
        | {n for ns in m["blooms"].values() for n in ns}
    )
    for p in list(m["parts"]) + dv_names:
        dst_p = os.path.join(ddir, p)
        require(not os.path.exists(dst_p), f"clone target part {p}")
        shutil.copytree(
            os.path.join(sdir, p),
            dst_p,
            # shallow (default): zero-copy hard links; deep: real byte
            # copies whose lifetime is fully independent of the source
            # (Delta DEEP CLONE — the archival/DR copy)
            copy_function=shutil.copy2 if deep else os.link,
        )
    return commit(
        dst_warehouse,
        dst,
        row_hwm_min=m["row_hwm"],
        **{k: v for k, v in m.items() if k not in _STAMPED},
    )


# lossless numeric promotions, by Spark typeName — the Delta
# type-widening allowlist (narrowing or cross-family changes rewrite
# data and are refused)
_TYPE_WIDENINGS = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("byte", "double"),
    ("short", "double"),
    ("integer", "double"),
    ("float", "double"),
}


def widen_column(
    spark: SparkSession, warehouse: str, table: str, name: str, new_type: str
) -> int:
    """``ALTER COLUMN ... TYPE`` widening (Delta type widening) — a
    METADATA-ONLY commit: the widened type lands in the table-owned
    manifest schema; existing part bytes keep their narrow physical
    encoding and every scan planned from that schema UPCASTS them in
    the parquet reader (int32 read as long/double — the same reader
    promotion Delta relies on), so history is never rewritten at any
    table size and later appends may write the wide type directly.
    Only lossless numeric promotions are allowed (``_TYPE_WIDENINGS``);
    narrowing would silently corrupt reads and is refused.  ``name`` is
    the PHYSICAL column name (rename mapping applies on read, above
    this layer).  Returns the committed version."""
    import json as _json

    from pyspark.sql.types import StructField, StructType

    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: widen on an uncommitted table")
    m = read_manifest(warehouse, table, cur)
    if m["schema"] is not None:
        struct = StructType.fromJson(_json.loads(m["schema"]))
    else:
        require(bool(m["parts"]), f"{table}: widen on an empty table")
        struct = _read_parts(
            spark, warehouse, table, m["parts"][:1], m["specs"]
        ).schema
    names = [f.name for f in struct.fields]
    require(name in names, f"{table}: no physical column {name!r}")
    old_f = struct.fields[names.index(name)]
    new_dt = spark.createDataFrame([], f"x {new_type}").schema.fields[0].dataType
    pair = (old_f.dataType.typeName(), new_dt.typeName())
    require(
        pair in _TYPE_WIDENINGS,
        f"{table}: {pair[0]} -> {pair[1]} is not a lossless widening",
    )
    fields = [
        StructField(f.name, new_dt if f.name == name else f.dataType,
                    f.nullable, f.metadata)
        for f in struct.fields
    ]
    return commit(
        warehouse, table, schema=StructType(fields).json()
    )


def rename_column(warehouse: str, table: str, old: str, new: str) -> int:
    """Metadata-only column RENAME — Delta column-mapping semantics: the
    part files keep their physical column name forever; the manifest
    carries ``{physical: logical}`` and the read path translates.  The
    commit writes ONE manifest file (CAS-guarded against concurrent
    commits), zero data bytes; time travel to a pre-rename version shows
    the old name because the mapping is versioned with the manifest."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: rename on an empty table")
    m = read_manifest(warehouse, table, cur)
    renames = dict(m["renames"])
    # `old` may itself be a logical name from an earlier rename — chase it
    # back to the on-disk physical name so mappings never chain
    phys = next((p for p, lg in renames.items() if lg == old), old)
    require(
        phys not in m["drops"], f"{table}: rename of dropped column {old!r}"
    )
    renames[phys] = new
    return commit(
        warehouse, table, renames=renames, expected_version=cur
    )


def drop_column(warehouse: str, table: str, name: str) -> int:
    """Metadata-only DROP COLUMN — the other half of Delta column
    mapping (rename_column being the first): the physical column stays
    in every part's bytes forever (until a rewrite such as
    ``compact_table`` naturally ages it out), the manifest records the
    physical name in ``drops``, and the read path projects it out.  The
    commit writes ONE manifest file (CAS-guarded), zero data bytes;
    time travel to a pre-drop version still shows the column because
    the drop list is versioned with the manifest.  ``name`` may be a
    logical name from an earlier rename — it is resolved to the
    physical name, and its mapping entry is retired with it."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: drop on an empty table")
    m = read_manifest(warehouse, table, cur)
    renames = dict(m["renames"])
    phys = next((p for p, lg in renames.items() if lg == name), name)
    require(
        phys not in m["drops"], f"{table}: column {name!r} already dropped"
    )
    renames.pop(phys, None)
    return commit(
        warehouse,
        table,
        renames=renames,
        expected_version=cur,
        drops=m["drops"] + [phys],
    )
