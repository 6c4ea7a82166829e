"""The manifest log: versioned part lists, committed by compare-and-swap.

A table is a directory of immutable parquet parts plus one
``_latest.v{N}`` manifest per committed version.  A manifest is a plain
JSON dict naming the version's parts and the metadata that travels with
them (column mapping, partition specs, file stats, constraints,
deletion vectors, bloom sidecars, row-tracking bases); readers hold
whichever version they opened.  Every version is written by
:func:`commit`, and every name in the warehouse that must be claimed
exactly once — manifest versions, transaction intents, tags — is
claimed by :func:`_put_if_absent`.
"""

from __future__ import annotations

import contextlib
import copy
import os
import time

from spark_spotify.functions import require


class CommitConflictError(RuntimeError):
    """An optimistic-concurrency commit lost the race: another writer
    committed the manifest version this writer was about to claim."""


MANIFEST_PREFIX = "_latest.v"

# Every manifest field, with the value a manifest that lacks it means
# (legacy manifests are bare part lists, or dicts from before a field
# existed).  The order is the key order :func:`commit` writes.
_DEFAULTS = {
    "parts": [],
    "renames": {},  # {physical col: logical col}
    "ts": None,  # commit wall clock; None in pre-timestamp manifests
    "specs": {},  # {part: [hive partition cols]}
    "drops": [],  # physical column names dropped
    "stats": {},  # {part: {col: {lo, hi, nulls, n}}}
    "constraints": {},  # {name: CHECK sql expr (logical cols)}
    "generated": {},  # {logical col: generation sql expr}
    "dv": {},  # {part: [deletion-vector sidecar names]}
    "schema": None,  # table-owned physical schema (JSON)
    "blooms": {},  # {physical col: [bloom sidecar names]}
    "row_base": None,  # {"part/file": base row id} | None
    "row_hwm": 0,  # next unassigned row id
}
# fields commit() stamps itself rather than taking from the caller
_STAMPED = ("ts", "row_hwm")


def list_versions(warehouse: str, table: str) -> list[int]:
    """All committed manifest versions for ``table``, ascending."""
    tdir = os.path.join(warehouse, table)
    if not os.path.isdir(tdir):
        return []
    return sorted(
        int(f[len(MANIFEST_PREFIX):])
        for f in os.listdir(tdir)
        if f.startswith(MANIFEST_PREFIX)
    )


def current_version(warehouse: str, table: str) -> int:
    """The latest committed version, or 0 if the table has none."""
    vs = list_versions(warehouse, table)
    return vs[-1] if vs else 0


def read_manifest(
    warehouse: str, table: str, version: int | None = None
) -> dict:
    """The manifest of ``version`` (default: the latest), with every
    field present — absent fields take their defaults.  Version 0, the
    state before a table's first commit, is the empty manifest."""
    import json

    if version is None:
        version = current_version(warehouse, table)
    if not version:
        return copy.deepcopy(_DEFAULTS)
    path = os.path.join(warehouse, table, f"{MANIFEST_PREFIX}{version}")
    with open(path) as fh:
        m = json.load(fh)
    if isinstance(m, list):  # tolerate bare part lists
        m = {"parts": m}
    return {**copy.deepcopy(_DEFAULTS), **m}


def manifest_parts(
    warehouse: str, table: str, version: int | None = None
) -> list[str] | None:
    """Committed part list at ``version`` (default: latest), or None if
    the table has no commits."""
    if not current_version(warehouse, table):
        return None
    return read_manifest(warehouse, table, version)["parts"]


# Delta truncates string file-stats at 32 chars (prefix + increment); we
# simply DROP bounds beyond this cap — a part with an unbounded column is
# never pruned on it, so the cap only costs skipping power, never rows.
_STATS_MAX_STR = 64


def _enc_stat(v):
    """JSON-safe, order-preserving encoding of a footer bound / predicate
    literal.  Numbers pass through; strings pass through under the length
    cap; timestamps become epoch MICROSECONDS and dates epoch DAYS (exact
    integer arithmetic — isoformat strings were rejected because mixed
    fractional-second renderings break lexicographic order at equality).
    Returns None for unencodable values (=> that bound is unknown and the
    part is never pruned on it)."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, bytes):
        try:
            v = v.decode()
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, _dt.datetime):
        import calendar

        if v.tzinfo is not None:
            # pyarrow returns tz-aware bounds for Spark's UTC-adjusted
            # timestamps; normalize any zone to UTC wall components so
            # aware and naive (session-UTC) values share one encoding
            v = v.astimezone(_dt.timezone.utc)
        return calendar.timegm(v.timetuple()) * 10**6 + v.microsecond
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return None


def _stat_kind(v) -> str | None:
    """Type FAMILY of a bound / predicate literal, recorded alongside the
    encoded stats so pruning never compares across encodings: dates
    encode as epoch-DAYS and datetimes as epoch-MICROS — both plain ints
    — so without the tag a datetime predicate on a DATE column would
    compare micros against days and could prune parts that match
    (breaking the 'pruning only errs toward reading' invariant)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "n"
    if isinstance(v, (int, float)):
        return "n"
    if isinstance(v, (str, bytes)):
        return "s"
    if isinstance(v, _dt.datetime):
        return "t"
    if isinstance(v, _dt.date):
        return "d"
    return None


def _part_stats(warehouse: str, table: str, part: str) -> dict:
    """Per-column {lo, hi, nulls, n} for one part, from the parquet
    FOOTERS alone (pyarrow metadata, no Spark job) — the file statistics
    Delta denormalizes into its commit log so the planner can skip files
    without touching them.  Only top-level primitive leaves are recorded
    (nested paths like ``props.list.element`` are skipped); a column
    whose min/max is unavailable in some row group that still holds
    non-null rows is left UNBOUNDED (recorded with counts only), so
    pruning can only ever err toward reading."""
    import glob as _glob

    import pyarrow.parquet as pq

    acc: dict[str, dict] = {}
    for f in _glob.glob(
        os.path.join(warehouse, table, part, "**", "*.parquet"),
        recursive=True,
    ):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).path for i in range(len(md.schema))]
        for i, name in enumerate(names):
            if "." in name:  # nested leaf — not a top-level column
                continue
            e = acc.setdefault(
                name,
                {"n": 0, "nulls": 0, "_bounded": True, "_nk": True},
            )
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                st = rgm.column(i).statistics
                e["n"] += rgm.num_rows
                nulls = (
                    st.null_count
                    if st is not None and st.has_null_count
                    else None
                )
                if nulls is None:
                    e["_nk"] = False
                else:
                    e["nulls"] += nulls
                if st is not None and st.has_min_max:
                    lo, hi = _enc_stat(st.min), _enc_stat(st.max)
                    kind = _stat_kind(st.min)
                    if lo is None or hi is None or kind is None:
                        e["_bounded"] = False
                    elif e.get("k", kind) != kind:
                        # mixed type families across row groups (should
                        # be impossible for one parquet column) — bounds
                        # are not comparable, leave unbounded
                        e["_bounded"] = False
                    else:
                        e["k"] = kind
                        e["lo"] = lo if "lo" not in e else min(e["lo"], lo)
                        e["hi"] = hi if "hi" not in e else max(e["hi"], hi)
                elif nulls is None or nulls < rgm.num_rows:
                    # non-null rows with no min/max: bounds unknowable
                    e["_bounded"] = False
    out = {}
    for name, e in acc.items():
        rec = {"n": e["n"]}
        if e.pop("_nk"):
            rec["nulls"] = e["nulls"]
        if e.pop("_bounded") and "lo" in e:
            rec["lo"], rec["hi"], rec["k"] = e["lo"], e["hi"], e["k"]
        out[name] = rec
    return out


def _require_new_name(
    tdir: str, parts: list[str], name: str, what: str
) -> None:
    """A verb's output name must be new — neither live in ``parts`` nor
    on disk: a reused tag would overwrite a directory that older
    manifests (time travel) may still reference."""
    require(
        name not in parts and not os.path.exists(os.path.join(tdir, name)),
        f"{what} collides with {name}",
    )


def _put_if_absent(path: str, text: str) -> None:
    """Create ``path`` holding ``text``, or raise :class:`FileExistsError`
    if the name is taken — the one claim behind every name the warehouse
    hands out exactly once (manifest versions, transaction intents,
    tags).

    The content goes to a private temp file first, which is then
    hard-linked to ``path``: ``link`` fails with EEXIST if the name is
    taken (the put-if-absent of Delta's log protocol), and the content
    is complete the moment the name appears.  An ``O_CREAT|O_EXCL``
    claim followed by a write would expose an empty file between the two
    steps, and leave it empty for good if the write failed.  The temp
    file is removed whether the write, the link or neither fails
    (``_``-prefixed names are never vacuumed)."""
    import uuid

    tmp = os.path.join(
        os.path.dirname(path), f"_tmp.{uuid.uuid4().hex[:12]}"
    )
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.link(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def commit(
    warehouse: str,
    table: str,
    *,
    expected_version: int | None = None,
    row_hwm_min: int = 0,
    **fields,
) -> int:
    """Commit version N+1 = the current manifest with ``fields``
    replaced, via compare-and-swap.  Returns the committed version.

    A field left out carries over from the current manifest (or takes
    its default on a table's first commit); a field passed is written as
    given, so ``schema=None`` clears the table-owned schema.  Unknown
    names raise, as do ``ts`` and ``row_hwm``, which the commit stamps:
    ``ts`` is its wall clock (``AS OF TIMESTAMP`` reads), and ``row_hwm``
    only grows — ``row_hwm_min`` lets callers that minted row ids
    themselves (MERGE inserts, clones) advance it past what they used.

    Before writing, the ``specs``, ``dv`` and ``stats`` entries of parts
    no longer listed are dropped, parts without stats get them from
    their footers, and on row-tracked tables new files get base row ids.

    The manifest is claimed with :func:`_put_if_absent`.  If two
    committers race, exactly one claims the name and wins; the loser
    raises :class:`CommitConflictError` (retry = re-read the table state
    and re-derive the commit).  ``expected_version`` additionally
    rejects the commit if the table moved since the caller read it."""
    import json

    bad = set(fields) - (set(_DEFAULTS) - set(_STAMPED))
    require(not bad, f"{table}: commit of unknown fields {sorted(bad)}")
    tdir = os.path.join(warehouse, table)
    os.makedirs(tdir, exist_ok=True)
    cur = current_version(warehouse, table)
    if expected_version is not None and cur != expected_version:
        raise CommitConflictError(
            f"{table}: expected version {expected_version}, found {cur}"
        )
    cur_m = read_manifest(warehouse, table, cur)
    m = {**cur_m, **fields}
    parts = m["parts"]
    m["ts"] = time.time()
    m["row_hwm"] = max(cur_m["row_hwm"], row_hwm_min)
    if m["row_base"] is not None:
        # ROW TRACKING (Delta row ids): every file of every part gets a
        # BASE row id at the commit that introduces it; a row's stable
        # id is base + _metadata.row_index.  Files that carry a
        # PHYSICAL _row_id column (COW rewrites materialize ids to
        # preserve them) get no base — the column is authoritative.
        # O(new files) footer reads, same cost class as the stats.
        require(
            not m["specs"],
            f"{table}: row tracking over partition specs unsupported",
        )
        import pyarrow.parquet as _pq

        live = set(parts)
        row_base = {
            k: v
            for k, v in m["row_base"].items()
            if k.split("/", 1)[0] in live
        }
        for p in parts:
            for fname in sorted(os.listdir(os.path.join(tdir, p))):
                if not fname.endswith(".parquet"):
                    continue
                key = f"{p}/{fname}"
                if key in row_base:
                    continue
                pf = _pq.ParquetFile(os.path.join(tdir, p, fname))
                if "_row_id" in set(pf.schema_arrow.names):
                    continue  # materialized file: ids live in the data
                row_base[key] = m["row_hwm"]
                m["row_hwm"] += pf.metadata.num_rows
        m["row_base"] = row_base
    # a spec entry for a part no longer in the list is dead metadata
    m["specs"] = {p: s for p, s in m["specs"].items() if p in parts}
    # likewise a deletion vector for a dropped part: a rewrite of the
    # part MATERIALIZED its deletions, so the sidecar reference dies
    # with the part entry (the sidecar bytes stay for older manifests).
    # Bloom sidecars are never filtered: one covering since-removed
    # parts is harmless (pruning consults only live parts) and may
    # still cover live ones.
    m["dv"] = {
        p: list(names) for p, names in m["dv"].items() if p in parts and names
    }
    # file stats ride the manifest (the Delta-log data-skipping index):
    # carried forward for surviving parts, footer-read ONCE for new parts
    # — O(new parts) cheap metadata I/O per commit, never a data scan
    stats = {p: s for p, s in m["stats"].items() if p in parts}
    for p in parts:
        if p not in stats:
            stats[p] = _part_stats(warehouse, table, p)
    m["stats"] = stats
    nxt = cur + 1
    try:
        _put_if_absent(
            os.path.join(tdir, f"{MANIFEST_PREFIX}{nxt}"),
            json.dumps({k: m[k] for k in _DEFAULTS}),
        )
    except FileExistsError:
        raise CommitConflictError(
            f"{table}: version {nxt} was committed concurrently"
        ) from None
    return nxt


def part_rows(warehouse: str, table: str, parts: list[str]) -> int:
    """Row count of committed ``parts`` from the current manifest's
    per-part stats ``n`` — footer counts taken at commit, so no Spark
    job and no file I/O.  A part the manifest holds no stats for (a
    legacy manifest, a part of an older version) derives them from its
    footers with :func:`_part_stats`.

    Only valid while no counted part carries a deletion vector (stats
    rows == live rows requires it): such a part fails loudly instead of
    overcounting, as does a part with no parquet files."""
    m = read_manifest(warehouse, table)
    n = 0
    for p in parts:
        require(
            not m["dv"].get(p),
            f"part_rows: {table}/{p} carries deletion vectors — "
            "stats counts are stale, use a scan",
        )
        st = m["stats"].get(p) or _part_stats(warehouse, table, p)
        require(bool(st), f"part_rows: no parquet files in {table}/{p}")
        n += max(e["n"] for e in st.values())
    return n


def part_inodes(
    warehouse: str, table: str, parts: list[str] | None = None
) -> dict[str, int]:
    """``{part/file: inode}`` of every parquet file under ``parts``
    (default: the head manifest's parts) — the byte-untouched proof of
    the layout and merge-on-read drills: a part whose inodes are
    unchanged was not rewritten."""
    if parts is None:
        parts = manifest_parts(warehouse, table) or []
    tdir = os.path.join(warehouse, table)
    out = {}
    for p in parts:
        for root, _dirs, files in os.walk(os.path.join(tdir, p)):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(root, f)
                    out[os.path.relpath(path, tdir)] = os.stat(path).st_ino
    return out


def path_rows(path: str) -> int:
    """Exact row count of a bare parquet file or directory from its
    footers alone — a driver-side metadata read, no Spark job.  For
    parquet outside the manifest log: source tables, landed arrival and
    quarantine files, a part not yet committed.  An empty or missing
    path fails loudly: a silent 0 would flow into sizing decisions far
    from the cause."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = _glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
    else:
        files = [path] if os.path.isfile(path) else []
    require(bool(files), f"path_rows: no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def swing_rebase(
    warehouse: str,
    table: str,
    base_version: int,
    added: list[str],
    removed: set[str] | None = None,
    max_retries: int = 5,
    dv_add: dict[str, list[str]] | None = None,
    schema: str | None = None,
    row_hwm_min: int = 0,
    blooms_add: dict[str, list[str]] | None = None,
) -> int:
    """Optimistic-concurrency commit with AUTOMATIC REBASE — the Delta
    conflict-resolution protocol on top of :func:`commit`'s CAS.  The
    commit is expressed as a DELTA against the snapshot the writer read
    (``base_version``): parts it adds and parts it removes (a COW
    rewrite removes its inputs and adds their replacement).  If other
    writers committed since ``base_version``, the delta is REPLAYED onto
    the current manifest instead of erroring, provided the two commits
    are disjoint:

    - append ∥ append — always rebases (both part lists land);
    - append ∥ delete-of-other-parts — rebases;
    - both sides REMOVED the same part (two writers rewriting the same
      rows), or both CLAIM the same new part name — true overlap, raises
      :class:`CommitConflictError` with no side effects.

    Isolation level is Delta's default **WriteSerializable**: a rebased
    delete does NOT re-check its predicate against parts appended by the
    winner — concurrent appends win, exactly as ``spark.databricks.
    delta.isolationLevel=WriteSerializable`` behaves.  Full Serializable
    would require re-running discovery, which the CALLER can do by
    catching the conflict and re-deriving the commit.

    ``dv_add`` extends the delta with ROW-level deletes: deletion-vector
    sidecars to attach per part (``{part: [dv names]}``, merge-on-read
    DELETE commits).  DV commits rebase at row granularity — two writers
    deleting rows of the SAME part both land (the read path applies the
    UNION of the part's vectors, consistent with either serial order
    because deletion is monotone), which part-level COW can never give.
    True conflicts remain: the winner REWROTE a part we vectorize (our
    row positions are dead), we rewrite a part the winner vectorized
    (our COW output would resurrect its deletions), or a DV sidecar
    name collides.

    Each retry is O(manifest) metadata only — no Spark job, no part
    rewrite; the loser of a CAS race re-reads and replays until it wins
    or finds a true overlap."""
    added = list(added)
    removed = set(removed or ())
    dv_add = {p: list(ns) for p, ns in (dv_add or {}).items() if ns}
    base_m = read_manifest(warehouse, table, base_version)
    base_parts = set(base_m["parts"])
    require(
        removed <= base_parts,
        f"rebase removes parts not in base v{base_version}: "
        f"{sorted(removed - base_parts)}",
    )
    require(
        set(dv_add) <= base_parts - removed,
        f"dv_add targets parts not live in base v{base_version}: "
        f"{sorted(set(dv_add) - (base_parts - removed))}",
    )
    for _ in range(max_retries):
        cur = current_version(warehouse, table)
        cur_m = read_manifest(warehouse, table, cur)
        cur_parts, cur_dv = cur_m["parts"], cur_m["dv"]
        if cur != base_version:
            winner_removed = base_parts - set(cur_parts)
            winner_added = set(cur_parts) - base_parts
            overlap = removed & winner_removed
            collide = set(added) & winner_added
            # a part we vectorize that the winner rewrote: our row
            # positions index files that no longer exist in the snapshot
            dv_dead = set(dv_add) & winner_removed
            # a part we REWRITE that the winner vectorized since base:
            # our COW output was computed without those row deletes and
            # would resurrect them
            dv_stomped = {
                p
                for p in removed
                if set(cur_dv.get(p, ())) - set(base_m["dv"].get(p, ()))
            }
            # two DV commits reusing one sidecar name
            dv_names = {n for ns in dv_add.values() for n in ns}
            dv_collide = dv_names & {
                n for ns in cur_dv.values() for n in ns
            }
            if overlap or collide or dv_dead or dv_stomped or dv_collide:
                raise CommitConflictError(
                    f"{table}: concurrent commit overlaps "
                    f"(both rewrote {sorted(overlap | dv_stomped)}, "
                    f"both added {sorted(collide)}, "
                    f"dv on rewritten parts {sorted(dv_dead)}, "
                    f"dv name collisions {sorted(dv_collide)})"
                )
            # row ids MATERIALIZED into this commit's part bytes were
            # minted from the base snapshot's watermark; if the winner
            # moved it, our pre-minted range may overlap ids the winner
            # already wrote — row_hwm_min can only advance the mark, it
            # cannot un-mint ids baked into parquet.  The caller must
            # re-derive the commit against the fresh watermark.
            if row_hwm_min > 0 and cur_m["row_hwm"] != base_m["row_hwm"]:
                raise CommitConflictError(
                    f"{table}: row ids minted against a stale watermark "
                    f"(base row_hwm {base_m['row_hwm']}, "
                    f"now {cur_m['row_hwm']})"
                )
            # schema is a metadata conflict, not last-writer-wins: a
            # schema-evolving commit derived its schema from the base —
            # overwriting a winner's concurrent evolution (another
            # evolving MERGE, a widen_column) would drop the winner's
            # column from the table-owned schema while its parts still
            # carry the data
            if schema is not None and cur_m["schema"] != base_m["schema"]:
                raise CommitConflictError(
                    f"{table}: concurrent schema change since "
                    f"v{base_version} conflicts with this commit's "
                    f"schema evolution"
                )
        fields = {"parts": [p for p in cur_parts if p not in removed] + added}
        if dv_add:
            new_dv = {p: list(ns) for p, ns in cur_dv.items()}
            for p, ns in dv_add.items():
                new_dv[p] = new_dv.get(p, []) + ns
            fields["dv"] = new_dv
        if blooms_add:
            # coverage additions are monotone like dv: a sidecar names
            # the parts it covers internally, so unioning mappings is
            # correct under any interleaving (extra names that cover
            # removed parts are harmless dead metadata)
            new_blooms = {c: list(ns) for c, ns in cur_m["blooms"].items()}
            for c, ns in blooms_add.items():
                new_blooms[c] = new_blooms.get(c, []) + ns
            fields["blooms"] = new_blooms
        if schema is not None:
            fields["schema"] = schema
        try:
            return commit(
                warehouse,
                table,
                expected_version=cur,
                row_hwm_min=row_hwm_min,
                **fields,
            )
        except CommitConflictError:
            continue  # lost the CAS itself: re-read and replay
    raise CommitConflictError(
        f"{table}: rebase lost {max_retries} consecutive commit races"
    )


TXN_DIR = "_txn"


def multi_commit(
    warehouse: str,
    plan: dict[str, tuple[list[str], set[str]]],
    tag: str,
) -> None:
    """ALL-OR-NOTHING commit across multiple tables — the cross-table
    transaction a medallion batch needs (fact + dims + gold must move
    together; a crash after some swings would leave the warehouse torn).
    Two-phase: (1) a durable INTENT record (claimed under ``_txn/`` with
    the same put-if-absent as the manifest CAS) captures every
    table's base version and part delta — the staged part DIRECTORIES
    must already be fully written, exactly like WAP; (2) the per-table
    swings apply in sorted order through :func:`swing_rebase`; (3) the
    intent is retired.  A crash anywhere after (1) is repaired by
    :func:`recover_transactions`, which ROLLS the intent FORWARD —
    already-applied tables are detected idempotently, the rest commit —
    so the transaction is atomic under crash-recovery.  (Isolation is
    per-table snapshot, as in Delta: a reader between two swings can
    observe table A's new version before table B's — the recovery
    guarantee is about DURABLE states, which is the contract that
    matters for pipeline reruns.)  ``plan`` maps table ->
    (parts_added, parts_removed)."""
    import json

    # creation sequence rides the record ("_"-prefixed keys are metadata,
    # not tables): recovery replays intents in CREATION order — two
    # in-flight intents touching the same table must roll forward in the
    # order they were cut, or a later intent whose base predates an
    # earlier one's removal hits a spurious overlap conflict
    tx = {"_ts": time.time()}
    for table in sorted(plan):
        added, removed = plan[table]
        tx[table] = {
            "base": current_version(warehouse, table),
            "added": list(added),
            "removed": sorted(removed),
        }
    tdir = os.path.join(warehouse, TXN_DIR)
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, f"{tag}.json")
    try:
        # the intent is durable BEFORE any table moves
        _put_if_absent(path, json.dumps(tx))
    except FileExistsError:
        raise CommitConflictError(
            f"transaction tag {tag!r} already exists"
        ) from None
    _txn_apply(warehouse, path, tx)


def _txn_apply(warehouse: str, intent_path: str, tx: dict) -> None:
    for table in sorted(tx):
        if table.startswith("_"):
            continue  # record metadata (creation ts), not a table
        e = tx[table]
        cur = set(manifest_parts(warehouse, table) or [])
        if set(e["added"]) <= cur and not (set(e["removed"]) & cur):
            continue  # this table's swing already landed (roll-forward)
        swing_rebase(
            warehouse, table, e["base"], e["added"], set(e["removed"])
        )
    os.unlink(intent_path)


def recover_transactions(warehouse: str) -> list[str]:
    """Roll every incomplete multi-table transaction FORWARD (the
    intent is durable, so the decision to commit was made; recovery
    finishes it).  Run at session/pipeline start, like Delta log
    recovery.  An intent that can no longer apply (a concurrent commit
    rewrote one of its parts — a TRUE overlap swing_rebase must refuse)
    is QUARANTINED as ``<tag>.json.conflict`` so it stops blocking
    recovery of later intents and keeps its evidence for the operator,
    and the conflict is raised AFTER every other intent has been
    recovered — one poisoned transaction must never brick the
    warehouse's recovery loop forever.  Returns the recovered tags."""
    import glob as _glob
    import json

    done = []
    conflicts = []
    pending = []
    for path in _glob.glob(os.path.join(warehouse, TXN_DIR, "*.json")):
        with open(path) as fh:
            tx = json.load(fh)
        # replay in intent-CREATION order, not lexicographic tag order:
        # a later-created intent whose base predates an earlier one's
        # removal would hit a spurious overlap conflict if recovered
        # first.  Creation ts is embedded in the record; legacy intents
        # fall back to file mtime; ties break on the tag name.
        seq = tx.get("_ts", os.path.getmtime(path))
        pending.append((seq, os.path.basename(path), path, tx))
    for _seq, _name, path, tx in sorted(pending, key=lambda t: t[:2]):
        tag = os.path.splitext(os.path.basename(path))[0]
        try:
            _txn_apply(warehouse, path, tx)
        except CommitConflictError as e:
            os.rename(path, path + ".conflict")
            conflicts.append(f"{tag}: {e}")
            continue
        done.append(tag)
    if conflicts:
        raise CommitConflictError(
            "unrecoverable transaction(s) quarantined: "
            + "; ".join(conflicts)
        )
    return done
