"""The read side of the warehouse: snapshot scans, file skipping and
bloom indexes.

A scan applies the manifest's partition specs, table-owned schema,
deletion vectors, row-tracking bases, dropped columns and column mapping
to its part list, so every reader sees the same logical rows.  File
skipping (:func:`prune_parts`) is pure metadata: the per-part stats and
bloom sidecars the manifest references.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions import require
from spark_spotify.warehouse.manifest import (
    _enc_stat,
    _require_new_name,
    _stat_kind,
    commit,
    current_version,
    list_versions,
    read_manifest,
)


def _read_parts(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """Spec-aware snapshot scan: unpartitioned parts go through ONE
    multi-path parquet read; each hive-partitioned part (partition spec
    evolution) is read under its own root so partition discovery
    restores its partition columns, then the branches union by name.
    Note the branch count is per hive-partitioned PART, not per spec
    generation — Spark's partition discovery rejects multiple roots
    (CONFLICTING_DIRECTORY_STRUCTURES), so spec'd parts cannot share a
    scan.  The scale posture is therefore: keep the spec'd part count
    low by COMPACTING evolved commits (compact_table rewrites any mix
    into one plain part), exactly as Iceberg compaction folds old-spec
    files forward."""
    branches = _part_branches(spark, warehouse, table, parts, specs, schema)
    out = None
    for df in branches:
        out = df if out is None else out.unionByName(df)
    return out


def _part_branches(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    schema: str | None = None,
) -> list[DataFrame]:
    """The per-spec scan branches behind :func:`_read_parts` — exposed so
    per-branch work (e.g. ``input_file_name()`` discovery, which is
    single-source-only and must not sit above the union) can map each
    branch before combining.

    ``schema`` is the manifest's TABLE-OWNED physical schema (JSON, set
    by schema-evolving commits).  When present the scan is planned from
    it — parquet fills columns a file lacks with NULL — which is how
    Delta/Iceberg read mixed-schema part sets: zero footer-merging I/O
    at plan time (``mergeSchema`` would read every footer of a 100 TB
    table), and the schema is versioned with the snapshot."""
    if not parts:
        return []
    specs = specs or {}
    tdir = os.path.join(warehouse, table)
    plain = [p for p in parts if p not in specs]
    reader = spark.read
    if schema is not None:
        import json as _json

        from pyspark.sql.types import StructType

        reader = spark.read.schema(
            StructType.fromJson(_json.loads(schema))
        )
    branches = []
    if plain:
        branches.append(
            reader.parquet(*[os.path.join(tdir, p) for p in plain])
        )
    branches.extend(
        reader.parquet(os.path.join(tdir, p))
        for p in parts
        if p in specs
    )
    return branches


# Reserved scan-side names for the deletion-vector anti-join keys —
# rejected as user columns by the MOR delete path.
_DV_FILE = "_dv_f"
_DV_IDX = "_dv_i"


def _rel_file_expr(tdir: str) -> F.Column:
    """Scan-side file identity: the open file's path RELATIVE to the
    table dir (``part/.../file.parquet``), from the ``_metadata``
    pseudo-column — matching byte-for-byte what the MOR delete writes
    into its sidecar, so the anti-join key is exact on both flat and
    hive-partitioned parts."""
    require("'" not in tdir, f"table dir {tdir!r} contains a quote")
    return F.expr(
        f"substring(_metadata.file_path, "
        f"locate('{tdir}/', _metadata.file_path) + {len(tdir) + 1})"
    )


def _read_parts_live(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    dv: dict[str, list[str]] | None = None,
    schema: str | None = None,
    keep_pos: bool = False,
) -> DataFrame | None:
    """DV-aware snapshot scan — :func:`_read_parts` plus the
    merge-on-read half of the Delta deletion-vector protocol: when any
    scanned part carries deletion vectors, every row is keyed by
    (relative file path, ``_metadata.row_index``) and anti-joined
    against the UNION of the referenced sidecars.  ``row_index`` is the
    physical position Spark maintains through row-group skipping (the
    same identity Delta's DV reader uses), so the filter is exact under
    predicate pushdown.  Sidecars are O(deleted rows) by construction
    and BROADCAST — the anti-join is a build-side hash lookup per row,
    no shuffle, and tables with no vectors take the plain scan with
    zero overhead."""
    live = {
        p: ns for p, ns in (dv or {}).items() if p in set(parts) and ns
    }
    tdir = os.path.join(warehouse, table)
    if not live and not keep_pos:
        return _read_parts(spark, warehouse, table, parts, specs, schema)
    rel = _rel_file_expr(tdir)
    out = None
    for br in _part_branches(
        spark, warehouse, table, parts, specs, schema
    ):
        require(
            not live
            or (_DV_FILE not in br.columns and _DV_IDX not in br.columns),
            f"{_DV_FILE}/{_DV_IDX} are reserved by deletion vectors",
        )
        b = br.withColumn(_DV_FILE, rel).withColumn(
            _DV_IDX, F.col("_metadata.row_index")
        )
        out = b if out is None else out.unionByName(b)
    if not live:
        return out  # keep_pos without vectors: just the position key
    names = sorted({n for ns in live.values() for n in ns})
    dvdf = spark.read.parquet(*[os.path.join(tdir, n) for n in names])
    cols = [c for c in out.columns if c not in (_DV_FILE, _DV_IDX)]
    out = out.join(
        F.broadcast(
            dvdf.withColumnRenamed("f", _DV_FILE).withColumnRenamed(
                "i", _DV_IDX
            )
        ),
        [_DV_FILE, _DV_IDX],
        "left_anti",
    )
    return out if keep_pos else out.select(*cols)


def _scan_with_row_ids(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    m: dict,
    keep_pos: bool = False,
) -> DataFrame:
    """Snapshot scan of ``parts`` carrying the stable ``_row_id`` —
    the Delta row-tracking read: files committed as appends get VIRTUAL
    ids (manifest base + ``_metadata.row_index``, zero storage cost);
    files written by COW rewrites carry a PHYSICAL ``_row_id`` column
    (materialized to survive the rewrite).  The two groups scan as
    separate branches (their physical schemas differ by the id column)
    and union by name — deterministic regardless of parquet schema
    resolution order.  ``keep_pos`` additionally surfaces the physical
    position key (``_dv_f``/``_dv_i``) — the identity a merge-on-read
    writer needs to vectorize the rows it updates."""
    rb = m["row_base"] or {}
    bset = {k.split("/", 1)[0] for k in rb}
    base_parts = [p for p in parts if p in bset]
    mat_parts = [p for p in parts if p not in bset]
    out = None
    if base_parts:
        b = _read_parts_live(
            spark,
            warehouse,
            table,
            base_parts,
            m["specs"],
            m["dv"],
            m["schema"],
            keep_pos=True,
        )
        bmap = F.create_map(
            *[
                x
                for k, v in sorted(rb.items())
                for x in (F.lit(k), F.lit(v))
            ]
        )
        b = b.withColumn(
            "_row_id",
            F.element_at(bmap, F.col(_DV_FILE)) + F.col(_DV_IDX),
        )
        if not keep_pos:
            b = b.drop(_DV_FILE, _DV_IDX)
        out = b
    if mat_parts:
        sch = m["schema"]
        if sch is not None:
            # the table-owned schema never lists the hidden id column;
            # extend it for the materialized branch so the scan sees it
            import json as _json

            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            st = StructType.fromJson(_json.loads(sch))
            sch = StructType(
                list(st.fields) + [StructField("_row_id", LongType())]
            ).json()
        mdf = _read_parts_live(
            spark,
            warehouse,
            table,
            mat_parts,
            m["specs"],
            m["dv"],
            sch,
            keep_pos=keep_pos,
        )
        out = mdf if out is None else out.unionByName(mdf)
    return out


def _scan_live(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    m: dict,
    keep_pos: bool = False,
) -> DataFrame:
    """The live rows of ``parts`` under manifest ``m`` — the scan every
    reader and rewrite starts from: deletion vectors applied, and on
    row-tracked tables the ``_row_id`` column carried, so a rewrite
    MATERIALIZES the vectors and preserves the ids.  Physical column
    names; ``keep_pos`` as in :func:`_read_parts_live`."""
    if m["row_base"] is not None:
        # tracked tables may mix materialized (_row_id-carrying) and
        # plain files; the id-aware scan branches them deterministically
        return _scan_with_row_ids(
            spark, warehouse, table, parts, m, keep_pos=keep_pos
        )
    return _read_parts_live(
        spark, warehouse, table, parts, m["specs"], m["dv"], m["schema"],
        keep_pos=keep_pos,
    )


def _logical(df: DataFrame, m: dict) -> DataFrame:
    """Project physical columns to the logical names readers see.
    Drops are PHYSICAL names, applied before the rename mapping; the
    part bytes still carry the column (Delta column-mapping drop),
    readers just never project it."""
    if m["drops"]:
        df = df.drop(*m["drops"])
    for phys, logical in m["renames"].items():
        df = df.withColumnRenamed(phys, logical)
    return df


def _snapshot(
    spark: SparkSession, warehouse: str, table: str, parts: list[str], m: dict
) -> DataFrame:
    """What readers see of ``parts`` under ``m``: live rows, logical
    columns, no row ids."""
    df = _scan_live(spark, warehouse, table, parts, m)
    if m["row_base"] is not None:
        df = df.drop("_row_id")
    return _logical(df, m)


def read_table_with_row_ids(
    spark: SparkSession,
    warehouse: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read surfacing the stable ``row_id`` column (row
    tracking must be enabled).  Same column mapping / drop semantics as
    :func:`read_table`."""
    require(
        current_version(warehouse, table) > 0,
        f"{table}: read on an uncommitted table",
    )
    m = read_manifest(warehouse, table, version)
    require(
        m["row_base"] is not None,
        f"{table}: row tracking not enabled at this version",
    )
    df = _scan_with_row_ids(spark, warehouse, table, m["parts"], m)
    return _logical(df, m).withColumnRenamed("_row_id", "row_id")


def version_as_of(warehouse: str, table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the latest committed version whose
    commit wall-clock is <= ``ts`` (Delta/Iceberg timestamp travel).
    O(versions) metadata reads, no Spark job.  Raises if no commit is
    that old (reading before the table existed).  Pre-timestamp
    manifests (no ``ts`` field) INHERIT the previous version's effective
    clock (-inf at the head of the log) and qualify only STRICTLY beyond
    it — a legacy commit is known only to be at-or-after its
    predecessor, so resolution stays monotonic and an early timestamp
    can never resolve to a late un-timestamped version."""
    best = None
    eff = float("-inf")
    for v in list_versions(warehouse, table):
        mts = read_manifest(warehouse, table, v)["ts"]
        if mts is not None:
            eff = mts
            if eff <= ts:
                best = v
        elif eff < ts:
            best = v
    require(best is not None, f"{table}: no commit at or before {ts}")
    return best


def read_table(
    spark: SparkSession,
    warehouse: str,
    table: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame | None:
    """Snapshot read at ``version`` (default: latest), or at the last
    version committed at or before wall-clock ``as_of_ts``.  Applies the
    manifest's column mapping (physical -> logical names), so a rename
    commit changes what readers see without touching any part bytes."""
    if not current_version(warehouse, table):
        return None
    if as_of_ts is not None:
        require(version is None, "pass version OR as_of_ts, not both")
        version = version_as_of(warehouse, table, as_of_ts)
    m = read_manifest(warehouse, table, version)
    if not m["parts"]:
        return None
    return _snapshot(spark, warehouse, table, m["parts"], m)


_PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in")


def prune_parts(
    warehouse: str,
    table: str,
    predicates: list[tuple],
    version: int | None = None,
) -> tuple[list[str], dict]:
    """Manifest-stats file skipping — the scan-planning half of the Delta
    log's data-skipping story: given conjunctive simple predicates
    ``[(logical_col, op, literal), ...]`` with ops in {=, <, <=, >, >=},
    return the parts of the snapshot that MIGHT contain matching rows,
    plus the manifest.  Pure metadata (one manifest read, zero footer or
    data I/O — the stats were denormalized into the manifest at commit
    time by :func:`commit`), so planning stays O(parts-in-manifest) at
    100 TB instead of O(files) footer fetches.

    A part is skipped only when its stats PROVE emptiness under a
    predicate: empty part; all-null column (a comparison never matches
    NULL under three-valued logic); or the literal falls outside the
    [lo, hi] bound.  Unknown stats, unencodable literals, and type
    mismatches all KEEP the part — pruning can only err toward reading.
    Predicates name LOGICAL columns; the manifest's column mapping
    translates to the physical names the footers carry."""
    require(
        current_version(warehouse, table) > 0,
        f"{table}: prune on an empty table",
    )
    m = read_manifest(warehouse, table, version)
    to_phys = {logical: phys for phys, logical in m["renames"].items()}
    resolved = []
    bloom_reqs = []
    for col, op, val in predicates:
        require(op in _PRUNE_OPS, f"unsupported prune op {op!r}")
        phys = to_phys.get(col, col)
        require(
            phys not in m["drops"], f"predicate on dropped column {col!r}"
        )
        if op == "in":
            # IN-list: a part is prunable only when EVERY element is
            # provably absent (stats: outside [lo, hi]; bloom: covered
            # part lacking some probe position of every element)
            elems = list(val)
            resolved.append(
                (
                    phys,
                    "in",
                    [(_enc_stat(e), _stat_kind(e)) for e in elems],
                    None,
                )
            )
            val = elems  # the bloom consult below handles the list
        else:
            resolved.append((phys, op, _enc_stat(val), _stat_kind(val)))
        if (
            op in ("=", "in")
            and phys in m["blooms"]
            and all(
                isinstance(v, (str, int)) and not isinstance(v, bool)
                for v in (val if op == "in" else [val])
            )
            and (op != "in" or val)
        ):
            # bloom consult: one O(positions) sidecar read per indexed
            # equality predicate — the step beyond min/max for point
            # lookups on high-cardinality columns (Delta bloom index).
            # Restricted to str/int literals, whose str() round-trips
            # Spark's cast-to-string byte-identically; anything else
            # conservatively skips the bloom (keeps the part).
            bloom_reqs.append(
                _bloom_predicate(
                    warehouse,
                    table,
                    m,
                    phys,
                    val if op == "in" else [val],
                )
            )

    def might_match(part: str) -> bool:
        for covered, present in bloom_reqs:
            if part in covered and part not in present:
                return False  # covered part lacks a required position
        pstats = m["stats"].get(part)
        if not pstats:
            return True  # no stats recorded — cannot prove anything
        for phys, op, v, vk in resolved:
            e = pstats.get(phys)
            if e is None:
                continue
            if e["n"] == 0 or e.get("nulls") == e["n"]:
                return False  # no non-null values: comparison is never true
            if v is None or "lo" not in e:
                continue
            lo, hi = e["lo"], e["hi"]
            if op == "in":
                # prunable only when EVERY element is provably outside
                # the part's bounds (unknown/cross-family elements keep)
                if v and all(
                    enc is not None
                    and ek is not None
                    and e.get("k") == ek
                    and (enc < lo or enc > hi)
                    for enc, ek in v
                ):
                    return False
                continue
            # compare ONLY within one type family: dates encode as
            # epoch-days and datetimes as epoch-micros (both ints), so a
            # raw numeric comparison across families would mis-prune.
            # Entries written before the kind tag existed carry no "k"
            # and are never compared (kept) — conservative by design.
            if vk is None or e.get("k") != vk:
                continue
            if (
                (op == "=" and (v < lo or v > hi))
                or (op == "<" and lo >= v)
                or (op == "<=" and lo > v)
                or (op == ">" and hi <= v)
                or (op == ">=" and hi < v)
            ):
                return False
        return True

    return [p for p in m["parts"] if might_match(p)], m


# Bloom index geometry: 2^21 positions, 4 probes per value — sized for
# ~10 bits per distinct value at the largest tested part (~16K distinct
# values/part at sf0.1 → ~3% fill, false-KEEP ~1e-6 per part per
# value).  False DROPS are impossible (a part's bloom contains every
# value it holds); a false KEEP only costs a scan.  At 100 TB the
# sidecar would store a packed bitmap (m/8 bytes per part) instead of
# distinct position rows; the probe math is identical.
BLOOM_BITS = 1 << 21
BLOOM_K = 4


# Sidecar marker rows (p="", pos=marker) recording the indexed column's
# type family — written at build, consulted before trusting coverage.
_BLOOM_KIND_S = -2  # string column
_BLOOM_KIND_I = -3  # integral column


def _bloom_positions(s: str) -> list[int]:
    """The k probe positions of a value — 8-hex-char slices of md5,
    reduced mod the bit space.  Mirrored EXACTLY by the Spark-side
    expression in :func:`add_bloom_index` (md5 of the cast-to-string
    value), so build and consult agree byte-for-byte."""
    import hashlib

    h = hashlib.md5(s.encode()).hexdigest()
    return [
        int(h[8 * i : 8 * i + 8], 16) % BLOOM_BITS for i in range(BLOOM_K)
    ]


def _bloom_predicate(
    warehouse: str, table: str, m: dict, phys: str, vals: list
) -> tuple[set, set]:
    """Resolve one indexed equality / IN-list predicate against the
    column's bloom sidecars: returns (covered parts, parts holding ALL
    probe positions of AT LEAST ONE value).  A covered part outside the
    present set provably holds no matching row; uncovered parts
    (appended after the index build) are never bloom-pruned.  One
    positions-filtered sidecar read for the whole value list — O(k x
    values) row-group data, no Spark job.

    Kind guard: the build hashed Spark's cast-to-string of the COLUMN
    and the consult hashes Python ``str(literal)`` — the two encodings
    agree only when the literal's type family matches the indexed
    column's (string vs string, int vs integral).  A sidecar whose
    recorded kind (the ``_BLOOM_KIND_*`` marker) does not match every
    probed literal contributes NO coverage — e.g. ``int_col = '0100'``
    would probe '0100' while the build hashed '100', and trusting the
    miss would be a false DROP of rows the cast-equality matches."""
    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    per_val = [_bloom_positions(str(v)) for v in vals]
    kinds = {"s" if isinstance(v, str) else "i" for v in vals}
    wanted = sorted({p for ps in per_val for p in ps})
    covered: set = set()
    hits: dict[str, set] = {}
    for name in m["blooms"].get(phys, ()):
        t = pq.read_table(
            os.path.join(tdir, name),
            filters=[
                ("pos", "in", wanted + [-1, _BLOOM_KIND_S, _BLOOM_KIND_I])
            ],
        )
        rows = list(
            zip(t.column("p").to_pylist(), t.column("pos").to_pylist())
        )
        kind_marks = {
            pos for p, pos in rows if p == "" and pos in (
                _BLOOM_KIND_S, _BLOOM_KIND_I
            )
        }
        kind = (
            "s"
            if _BLOOM_KIND_S in kind_marks
            else "i" if _BLOOM_KIND_I in kind_marks else None
        )
        if kind is not None and kinds != {kind}:
            continue  # literal family ≠ column family: no coverage
        for p, pos in rows:
            if p == "" and pos in (_BLOOM_KIND_S, _BLOOM_KIND_I):
                continue
            if pos == -1:
                covered.add(p)
            else:
                hits.setdefault(p, set()).add(pos)
    present = {
        p
        for p, got in hits.items()
        if any(set(ps) <= got for ps in per_val)
    }
    return covered, present


def add_bloom_index(
    spark: SparkSession, warehouse: str, table: str, col: str, tag: str
) -> int:
    """Build a BLOOM FILTER INDEX over ``col`` for every live part not
    already covered (Delta ``CREATE BLOOMFILTER INDEX``): ONE Spark job
    scans the uncovered parts, hashes each value to its {BLOOM_K} probe
    positions, and writes the DISTINCT (part, position) set plus a
    coverage marker per part as a parquet sidecar referenced from the
    manifest.  ``prune_parts`` then consults it for equality predicates
    — the point-lookup skipping min/max stats cannot give on
    high-cardinality/hash-like columns, where every part spans the full
    value range.  Sidecar size is bounded by k x distinct-values bits
    worth of positions per part; parts appended later are simply
    uncovered (never bloom-pruned) until the next build.  ``col`` is
    the PHYSICAL column name.  Returns the committed version (or the
    current one when every part is already covered)."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: bloom index on an uncommitted table")
    m = read_manifest(warehouse, table, cur)
    tdir = os.path.join(warehouse, table)
    name = f"bl{tag}"
    _require_new_name(tdir, m["parts"], name, f"bloom tag {tag!r}")
    todo = [
        p
        for p in m["parts"]
        if p not in bloom_covered(warehouse, table, m, col)
    ]
    if not todo:
        return cur
    _write_bloom_sidecar(spark, warehouse, table, m, col, todo, name)
    return commit(
        warehouse,
        table,
        blooms={
            **m["blooms"],
            col: list(m["blooms"].get(col, [])) + [name],
        },
    )


def bloom_covered(warehouse: str, table: str, m: dict, col: str) -> set:
    """Parts already covered by ``col``'s bloom sidecars (coverage
    markers only — O(parts) metadata read, no positions)."""
    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    covered: set = set()
    for sc in m["blooms"].get(col, ()):
        t = pq.read_table(
            os.path.join(tdir, sc), filters=[("pos", "=", -1)]
        )
        covered |= set(t.column("p").to_pylist())
    return covered


def _write_bloom_sidecar(
    spark: SparkSession,
    warehouse: str,
    table: str,
    m: dict,
    col: str,
    todo: list[str],
    name: str,
) -> None:
    """ONE Spark job hashing ``col`` of ``todo``'s rows to DISTINCT
    (part, position) bloom rows, written with per-part coverage markers
    and the column-kind marker to sidecar ``name``.  The column must be
    string or integral — the only families whose Python ``str(literal)``
    round-trips Spark's cast-to-string byte-identically (a DOUBLE would
    build '100.0' but probe '100': a silent false DROP)."""
    from pyspark.sql import types as T

    tdir = os.path.join(warehouse, table)
    rel = _rel_file_expr(tdir)
    hexd = F.md5(F.col(col).cast("string"))
    pos_exprs = [
        (
            F.conv(F.substring(hexd, 1 + 8 * i, 8), 16, 10).cast("long")
            % BLOOM_BITS
        ).cast("int")
        for i in range(BLOOM_K)
    ]
    scan = None
    kind = None
    for br in _part_branches(
        spark, warehouse, table, todo, m["specs"], m["schema"]
    ):
        dt = br.schema[col].dataType
        if isinstance(dt, T.StringType):
            bk = "s"
        elif isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            bk = "i"
        else:
            raise RuntimeError(
                f"{table}.{col}: bloom index requires a string or "
                f"integral column, got {dt.simpleString()} (other "
                f"families' literals do not round-trip cast-to-string)"
            )
        require(
            kind in (None, bk), f"{table}.{col}: mixed column kinds"
        )
        kind = bk
        b = br.select(
            F.split(rel, "/").getItem(0).alias("p"),
            F.explode(F.array(*pos_exprs)).alias("pos"),
        )
        scan = b if scan is None else scan.unionByName(b)
    rows = scan.filter(F.col("pos").isNotNull()).distinct()
    rows.coalesce(1).write.parquet(os.path.join(tdir, name))
    # the coverage/kind markers land as a SECOND file in the sidecar
    # dir; every value is driver-known, so the file is written directly
    # with pyarrow (same schema Spark wrote for the position rows:
    # p string, pos int32) instead of spending a Spark job on a literal
    # relation — the same shape the stream sinks use for txn_log rows.
    # The dir is private until the manifest references it, so the
    # two-file write is commit-safe.
    import glob as _glob

    import pyarrow as _pa
    import pyarrow.parquet as _papq

    # derive the pos arrow type from the file Spark JUST wrote, so the
    # two files in one sidecar dir can never diverge if the position
    # expression's cast ever changes — a mismatch would otherwise only
    # surface as a dataset-schema-unification error at probe time, far
    # from this write (ADVICE r10)
    spark_part = _glob.glob(os.path.join(tdir, name, "part-*.parquet"))[0]
    pos_type = _papq.ParquetFile(spark_part).schema_arrow.field("pos").type
    _papq.write_table(
        _pa.table(
            {
                "p": _pa.array(list(todo) + [""], _pa.string()),
                "pos": _pa.array(
                    [-1] * len(todo)
                    + [_BLOOM_KIND_S if kind == "s" else _BLOOM_KIND_I],
                    pos_type,
                ),
            }
        ),
        os.path.join(tdir, name, "markers-00000.parquet"),
    )


def describe_bloom_coverage(
    spark: SparkSession, warehouse: str, table: str
) -> DataFrame:
    """Index-staleness introspection (the DESCRIBE-HISTORY companion for
    bloom indexes): one row per indexed column with live-part coverage
    counts and the uncovered part list — what an operator checks before
    relying on point-lookup pruning, and what tells them an OPTIMIZE
    (which tops coverage up) is due.  Pure metadata: one manifest read
    plus coverage-marker sidecar reads, no Spark job over data."""
    cur = current_version(warehouse, table)
    require(cur > 0, f"{table}: coverage report on an empty table")
    m = read_manifest(warehouse, table, cur)
    rows = []
    for col in sorted(m["blooms"]):
        covered = bloom_covered(warehouse, table, m, col)
        uncovered = sorted(p for p in m["parts"] if p not in covered)
        rows.append(
            (
                col,
                len(m["parts"]),
                len(m["parts"]) - len(uncovered),
                uncovered,
            )
        )
    return spark.createDataFrame(
        rows,
        "col string, n_parts int, n_covered int, uncovered array<string>",
    )


def _maintain_blooms(
    spark: SparkSession,
    warehouse: str,
    table: str,
    m: dict,
    candidates: list[str],
    tag: str,
) -> dict[str, list[str]] | None:
    """Same-commit bloom index maintenance: for every indexed column,
    build ONE sidecar covering the ``candidates`` parts not already
    covered, returning the manifest ``blooms`` additions to commit
    atomically with the parts themselves.  Rewrite paths (COW delete /
    MERGE / compaction / OPTIMIZE) pass the parts they produced, so a
    churning table never silently degrades to full-scan point lookups;
    OPTIMIZE additionally passes the surviving parts, topping up
    coverage over since-appended parts (the Delta posture: appends land
    uncovered and cheap, maintenance rides the layout verb).  Cost is
    O(candidate data) per indexed column — the parts were just written,
    so the rebuild reads what the commit already paid to produce.
    Columns the candidates lack (pre-evolution rewrites) or whose type
    family is un-indexable are skipped — uncovered is always correct,
    only slower."""
    if not m["blooms"] or not candidates:
        return None
    import glob as _glob

    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    add: dict[str, list[str]] = {}
    for col in sorted(m["blooms"]):
        todo = [
            p
            for p in candidates
            if p not in bloom_covered(warehouse, table, m, col)
        ]
        # a part whose files lack the column cannot be covered (its
        # rows all read NULL — never equal to a probe literal, so
        # leaving it uncovered merely keeps it conservatively)
        todo = [
            p
            for p in todo
            if all(
                col in set(pq.ParquetFile(f).schema_arrow.names)
                for f in _glob.glob(
                    os.path.join(tdir, p, "**", "*.parquet"),
                    recursive=True,
                )
            )
        ]
        if not todo:
            continue
        name = f"bl.{tag}.{col}"
        require(
            not os.path.exists(os.path.join(tdir, name)),
            f"bloom maintenance sidecar {name} collides",
        )
        try:
            _write_bloom_sidecar(spark, warehouse, table, m, col, todo, name)
        except RuntimeError:
            continue  # un-indexable family: stay uncovered (correct)
        add[col] = [name]
    return add or None


def _predicates_column(predicates: list[tuple]) -> F.Column:
    """The conjunction of structured ``[(col, op, literal), ...]``
    predicates as one boolean Column (NULL where any comparison is
    NULL — callers decide three-valued handling).  Naive datetimes are
    pinned to UTC: they were ENCODED as UTC by ``_enc_stat``, but
    PySpark converts a naive literal via the HOST's local timezone
    (TimestampType.toInternal uses time.mktime) — on a non-UTC host
    the residual filter and the pruning would disagree by the UTC
    offset and silently drop rows."""
    import datetime as _dt

    def _pin(x):
        if isinstance(x, _dt.datetime) and x.tzinfo is None:
            return x.replace(tzinfo=_dt.timezone.utc)
        return x

    out = F.lit(True)
    for col, op, val in predicates:
        c = F.col(col)
        if op == "in":
            term = (
                c.isin([_pin(x) for x in val]) if val else F.lit(False)
            )
        else:
            v = F.lit(_pin(val))
            term = {
                "=": c == v,
                "<": c < v,
                "<=": c <= v,
                ">": c > v,
                ">=": c >= v,
            }[op]
        out = out & term
    return out


def read_table_where(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicates: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-stats file skipping: parts whose stats
    prove no row can match are never opened (not even their footers), the
    survivors are scanned, and the FULL predicate is still applied to the
    scan — correctness never depends on the pruning, exactly like Delta's
    dataSkippingNumIndexedCols read path.  On a clustered/Z-ordered
    layout this is what turns a point query over 100 TB into a few-file
    read."""
    kept, m = prune_parts(warehouse, table, predicates, version)

    def residual(df: DataFrame) -> DataFrame:
        return df.filter(_predicates_column(predicates))

    if not kept:
        # provably-empty result: full schema, LocalRelation plan, no scan
        full = read_table(spark, warehouse, table, version)
        require(
            full is not None, f"{table}: pruning read on an empty snapshot"
        )
        return residual(full).filter(F.lit(False))
    return residual(_snapshot(spark, warehouse, table, kept, m))
