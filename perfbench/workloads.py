"""The benchmark workloads: ``dashboard`` and ``batch``, an ingest part and
a similarity part run one after the other.

Each drives the engine's public layer functions from one client thread
as a closed loop: the next call starts when the previous one returned.
A workload stages its seeded inputs, runs units of work (a block of
dashboard requests, or a pass: a fixed, seeded sequence of calls) and
afterwards
checks every output it kept against an independent model: DuckDB oracle
SQL, numpy or a Python union-find.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle import diff, digest, duck_con
from perfbench.trace import Tracer

WINDOWS = (7, 14, 30, 90)
WARM_THREADS = 4
# inputs have a tenth of the rows of the sf0.1 fixture tables, with their
# shapes.  Per-call costs here are mostly fixed: on a 4-CPU host one run
# at full sf0.1 took 50 s (dashboard), 70 s (ingest) and 74 s
# (similarity), too long for 22 runs of each workload in under an hour;
# at a tenth the medians of ten runs were 42, 52 and 48 s
SCALE = 0.1


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer
    work: str
    seed: int
    inputs: gen.Generated | None = None
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    @property
    def sf(self) -> str:
        return self.inputs.dir


def concurrently(thunks) -> None:
    """Run independent warm-up calls on a few threads.  Each operation
    only needs to have run once before the timed units; running them side
    by side shortens set-up without changing what is measured."""
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


class Workload:
    name = ""

    def stage(self, ctx: Ctx) -> None:
        """Generate the seeded inputs and derive this workload's own
        (part of set-up)."""
        d = os.path.join(ctx.work, "in")
        shutil.rmtree(d, ignore_errors=True)
        ctx.inputs = gen.generate(ctx.seed, d, gen.Sizes().scaled(SCALE))
        self.prepare(ctx)

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        """Untimed: run every operation once."""
        concurrently(self.warm_calls(ctx))

    def warm_calls(self, ctx: Ctx) -> list:
        raise NotImplementedError

    def run_unit(self, ctx: Ctx) -> list[float]:
        """Timed: one pass, a fixed sequence of calls whose outputs are
        checked together.  Returns the latencies a user waits for: here
        the pass, the time spent in its engine calls."""
        first = len(ctx.tracer.spans)
        self.run_pass(ctx)
        return [sum(s.wall_s for s in ctx.tracer.spans[first:])]

    def run_pass(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> None:
        raise NotImplementedError


# --- dashboard -------------------------------------------------------------


def _loaders():
    from spark_spotify import api

    # (name, call(window, spark, sf), windowed, registry query it equals)
    return [
        ("heatmap", lambda w, s, d: api.heatmap_load_data(w, s, d), True, None),
        ("hour_ratio", lambda w, s, d: api.hour_ratio_load_data(s, d), False,
         "ana_period_ratio"),
        ("radar", lambda w, s, d: api.radar_load_data(s, d), False,
         "ana_behavior_radar"),
        ("loyalty", lambda w, s, d: api.basic_loyal_load_data(s, d), False,
         "ana_loyalty"),
        ("sankey", lambda w, s, d: api.track_sankey_load_data(s, d), False,
         "ana_sankey"),
        ("treemap_track", api.treemap_track_load_data, True, None),
        ("treemap_artist", api.treemap_artist_load_data, True, None),
        ("treemap_album", api.treemap_album_load_data, True, None),
        ("band_violin", api.band_violin_load_data, True, None),
        ("band_bar", api.band_bar_load_data, True, None),
        ("gender_violin", api.gender_violin_load_data, True, None),
        ("gender_bar", api.gender_bar_load_data, True, None),
        ("gender_by_date", lambda w, s, d: api.gender_bar_by_date(s, d), False,
         "ana_nullable_dim_profile"),
        ("recent_stats", api.get_recent_listening_stats, True, None),
        ("daily_stats", lambda w, s, d: api.get_daily_stats(s, d), False,
         "etl_daily_stats"),
        ("today", lambda w, s, d: api.v_today_listening(s, d), False,
         "ana_today_listening"),
    ]


class Dashboard(Workload):
    name = "dashboard"

    def prepare(self, ctx: Ctx) -> None:
        self.loaders = _loaders()
        self.rng = np.random.default_rng([ctx.seed, 1])
        # (loader, window) -> every result it returned
        self.results: dict[tuple[str, int], list[pd.DataFrame]] = {}

    def _block(self) -> list[tuple[int, int]]:
        """Every loader once, in seeded order; the windows are a seeded
        shuffle of an even spread over WINDOWS, so every block asks for
        the same mix of window sizes."""
        n = len(self.loaders)
        order = self.rng.permutation(n)
        wins = self.rng.permutation(np.resize(WINDOWS, n))
        return [(int(i), int(w)) for i, w in zip(order, wins)]

    def warm_calls(self, ctx: Ctx) -> list:
        return [lambda i=i, w=w: self._request(ctx, i, w)
                for i, w in self._block()]

    def run_unit(self, ctx: Ctx) -> list[float]:
        """Two blocks of requests; returns each request's latency.  Whole
        blocks keep the mix of loaders the same on every seed, and a
        fixed number of them per unit keeps runs alike, as later blocks
        run faster while the JIT keeps compiling."""
        latencies = []
        for i, w in self._block() + self._block():
            first = len(ctx.tracer.spans)
            self._request(ctx, i, w)
            latencies.append(sum(s.wall_s for s in ctx.tracer.spans[first:]))
        return latencies

    def _request(self, ctx: Ctx, i: int, w: int) -> None:
        name, fn, windowed, _ = self.loaders[i]
        spark, sf, call = ctx.spark, ctx.sf, ctx.tracer.call
        df = call("api", name, lambda: fn(w, spark, sf))
        if df is None:
            return
        pdf = call("analytics", name, df.toPandas, rows=len)
        if pdf is None:
            return
        self.results.setdefault((name, w if windowed else 0), []).append(pdf)

    def check(self, ctx: Ctx) -> None:
        from spark_spotify.registry import ORACLE

        # same input, same window => same answer on every call
        for (name, w), pdfs in self.results.items():
            if len({digest(p) for p in pdfs}) != 1:
                ctx.errors.append(f"{name}({w}) changed between calls")
        con = duck_con(ctx.sf, ["events", "customer"])
        for name, _, _, query in self.loaders:
            if query is None:
                continue
            got = self.results.get((name, 0))
            bad = "missing" if got is None else diff(
                got[-1], con.execute(ORACLE[query]).df())
            if bad:
                ctx.errors.append(f"{name} vs oracle {query}: {bad}")
        con.close()


# --- ingest ----------------------------------------------------------------

N_BATCHES = 2
STREAM_EVENTS = 4_000
MOR_KEY_OFFSET = 10**9
WARM_BATCH = 1_000


class Ingest(Workload):
    """Batches through the incremental ETL, table-format verbs on the
    result, and a streaming leg."""

    name = "ingest"

    def prepare(self, ctx: Ctx) -> None:
        rng = np.random.default_rng([ctx.seed, 2])
        ev = pd.read_parquet(os.path.join(ctx.sf, "events.parquet"))
        n = len(ev)
        ts = ev["ts"].to_numpy()
        # uneven cut points, moved forward past equal timestamps so the
        # watermark never splits a timestamp across two batches
        cuts = sorted(int(c) for c in rng.uniform(0.15, 0.85, N_BATCHES - 1) * n)
        cuts = [0] + [self._clean_cut(ts, c) for c in cuts] + [n]
        self.batches = []
        bdir = os.path.join(ctx.work, "batches")
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(bdir)
        for b in range(N_BATCHES):
            # re-deliver a seeded overlap of the previous batch's tail
            lo = max(0, cuts[b] - int(rng.integers(0, 400)))
            path = os.path.join(bdir, f"b{b}.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    ev.iloc[lo:cuts[b + 1]], gen.EVENTS_SCHEMA,
                    preserve_index=False,
                ),
                path,
            )
            self.batches.append((path, cuts[b + 1] - lo))
        self.input_bytes = sum(os.path.getsize(p) for p, _ in self.batches)
        self.small = []
        # two small overlapping batches for the warm-up
        for b, (lo, hi) in enumerate(
                [(0, WARM_BATCH), (WARM_BATCH // 2, 2 * WARM_BATCH)]):
            path = os.path.join(bdir, f"warm{b}.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    ev.iloc[lo:hi], gen.EVENTS_SCHEMA, preserve_index=False),
                path,
            )
            self.small.append((path, hi - lo))
        self.stream_dir = os.path.join(ctx.work, "stream")
        os.makedirs(self.stream_dir, exist_ok=True)
        start = int(rng.integers(0, n - STREAM_EVENTS))
        pq.write_table(
            pa.Table.from_pandas(
                ev.iloc[start:start + STREAM_EVENTS], gen.EVENTS_SCHEMA,
                preserve_index=False,
            ),
            os.path.join(self.stream_dir, "events.parquet"),
        )
        # five distinct active users: COW update, COW insert, MOR update,
        # MOR insert, delete
        active = ev["user_id"].value_counts().index[:40].to_numpy()
        self.users = [int(u) for u in rng.choice(active, 5, replace=False)]
        # output key -> its frame from every timed pass
        self.kept: dict[str, list[pd.DataFrame]] = {}
        self.passes = 0

    @staticmethod
    def _clean_cut(ts: np.ndarray, c: int) -> int:
        while 0 < c < len(ts) and ts[c] == ts[c - 1]:
            c += 1
        return c

    def _keep(self, ctx: Ctx, key: str, pdf: pd.DataFrame | None) -> None:
        if pdf is not None and ctx.tracer.phase == "timed":
            self.kept.setdefault(key, []).append(pdf)

    def warm_calls(self, ctx: Ctx) -> list:
        # a pass over small batches warms the same code paths as full
        # ones; one chain beside the streaming leg leaves the other warm-up
        # threads to the similarity part
        def small_pass():
            wh = self._load(ctx, self._wh(ctx, "warm"), self.small)
            self._merge(ctx, wh)
            self._compact(ctx, wh)

        return [small_pass, self._stream_leg_of(ctx)]

    def run_pass(self, ctx: Ctx) -> None:
        self.passes += 1
        wh = self._load(ctx, self._wh(ctx, f"pass{self.passes}"), self.batches)
        self._merge(ctx, wh)
        self._compact(ctx, wh)
        self._stream_leg_of(ctx)()

    @staticmethod
    def _wh(ctx: Ctx, name: str) -> str:
        wh = os.path.join(ctx.work, "wh", name)
        shutil.rmtree(wh, ignore_errors=True)
        return wh

    def _stream_leg_of(self, ctx: Ctx):
        from spark_spotify.streaming import pipeline as S

        def leg():
            out = ctx.tracer.call("streaming", "hourly_rollup", lambda: (
                S.q_stream_hourly_rollup(ctx.spark, self.stream_dir).toPandas()
            ), STREAM_EVENTS)
            self._keep(ctx, "stream_hourly_rollup", out)
            out = ctx.tracer.call("streaming", "merge_sink", lambda: (
                S.q_stream_merge_sink(ctx.spark, self.stream_dir).toPandas()
            ), 2 * STREAM_EVENTS)
            self._keep(ctx, "stream_merge_sink", out)

        return leg

    def _load(self, ctx: Ctx, wh: str, batches) -> str:
        from spark_spotify.etl import pipeline as P
        from spark_spotify.sources.tables import normalize_event_ts

        spark = ctx.spark
        for b, (path, n_rows) in enumerate(batches):
            src = normalize_event_ts(spark.read.parquet(path))
            ctx.tracer.call("etl.pipeline", "batch", lambda: (
                P.run_incremental_etl(spark, src, wh, b + 1)), n_rows)
        return wh

    def _merge(self, ctx: Ctx, wh: str) -> None:
        from pyspark.sql import functions as F

        from spark_spotify.etl import pipeline as P

        spark = ctx.spark
        u_cow, i_cow, u_mor, i_mor, _ = self.users

        def timed(name, fn):
            return ctx.tracer.call("etl.pipeline", name, fn)

        fact = P.read_table(spark, wh, "fact")
        src = fact.filter(F.col("user_id") == u_cow).withColumn(
            "value", F.col("value") * 2
        ).unionByName(
            fact.filter(F.col("user_id") == i_cow).withColumn(
                "event_id", -(F.col("event_id") + 1)
            )
        )
        timed("merge_cow", lambda: P.merge_rows(
            spark, wh, "fact", src, "event_id", "m1"))
        fact = P.read_table(spark, wh, "fact")
        src = fact.filter(F.col("user_id") == u_mor).withColumn(
            "value", F.col("value") * 2
        ).unionByName(
            fact.filter(
                (F.col("user_id") == i_mor) & (F.col("event_id") >= 0)
            ).withColumn(
                "event_id", -(F.col("event_id") + 1) - MOR_KEY_OFFSET
            )
        )
        timed("merge_mor", lambda: P.merge_rows(
            spark, wh, "fact", src, "event_id", "m2", mode="mor"))

    def _compact(self, ctx: Ctx, wh: str) -> None:
        from pyspark.sql import functions as F

        from spark_spotify.etl import pipeline as P

        spark = ctx.spark
        u_cow, u_del = self.users[0], self.users[4]

        def timed(name, fn):
            return ctx.tracer.call("etl.pipeline", name, fn)

        timed("delete", lambda: P.delete_rows(
            spark, wh, "fact", F.col("user_id") == u_del, "d1"))
        timed("optimize", lambda: P.optimize_table(
            spark, wh, "fact", 64 << 20, tag="o1"))
        files, written = _tree_size(wh)
        timed("vacuum", lambda: P.vacuum_table(wh, "fact"))
        out = timed("read", lambda: P.read_table(spark, wh, "fact").toPandas())
        self._keep(ctx, "fact", out)
        pred = [("user_id", "=", u_cow)]
        kept, manifest = P.prune_parts(wh, "fact", pred)
        out = timed("read_where", lambda: P.read_table_where(
            spark, wh, "fact", pred).toPandas())
        self._keep(ctx, "fact_where", out)

        if ctx.tracer.phase == "timed":
            _, after = _tree_size(wh)
            parts = len(manifest.get("parts", [])) if manifest else 0
            lay = ctx.layer
            lay["files_written"] = lay.get("files_written", 0) + files
            lay["bytes_written"] = lay.get("bytes_written", 0) + written
            lay["bytes_per_user_byte"] = after / self.input_bytes
            lay["prune_kept_ratio"] = len(kept) / parts if parts else 0.0
        shutil.rmtree(wh, ignore_errors=True)

    def expected_fact(self, sf: str) -> pd.DataFrame:
        """The oracle star join over every generated event, with the
        pass's upserts and delete applied."""
        from spark_spotify.registry import ORACLE

        con = duck_con(sf, ["events"])
        f = con.execute(ORACLE["etl_fact_star"]).df()
        con.close()
        u_cow, i_cow, u_mor, i_mor, u_del = self.users
        f.loc[f.user_id == u_cow, "value"] *= 2
        ins = f[f.user_id == i_cow].assign(event_id=lambda d: -(d.event_id + 1))
        f = pd.concat([f, ins], ignore_index=True)
        f.loc[f.user_id == u_mor, "value"] *= 2
        ins = f[(f.user_id == i_mor) & (f.event_id >= 0)].assign(
            event_id=lambda d: -(d.event_id + 1) - MOR_KEY_OFFSET
        )
        f = pd.concat([f, ins], ignore_index=True)
        return f[f.user_id != u_del].reset_index(drop=True)

    def check(self, ctx: Ctx) -> None:
        from spark_spotify.registry import ORACLE

        for key, pdfs in self.kept.items():
            if len(pdfs) > 1 and len({digest(p) for p in pdfs}) != 1:
                ctx.errors.append(f"ingest {key}: passes disagree")
        want = self.expected_fact(ctx.sf)
        for key, sel in (("fact", want),
                         ("fact_where", want[want.user_id == self.users[0]])):
            got = self.kept.get(key)
            bad = "missing" if got is None else diff(got[-1], sel)
            if bad:
                ctx.errors.append(f"ingest {key}: {bad}")
        con = duck_con(self.stream_dir, ["events"])
        for key in ("stream_hourly_rollup", "stream_merge_sink"):
            got = self.kept.get(key)
            bad = "missing" if got is None else diff(
                got[-1], con.execute(ORACLE[key]).df())
            if bad:
                ctx.errors.append(f"ingest {key}: {bad}")
        con.close()


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


# --- similarity ------------------------------------------------------------

N_PANEL = 2
TOP_K = 10


class Similarity(Workload):
    """Near-duplicate detection, exact cosine top-k, connected components
    and serving a maintained ANN index over the generated corpus."""

    name = "similarity"

    def prepare(self, ctx: Ctx) -> None:
        rng = np.random.default_rng([ctx.seed, 3])
        self.queries = [int(q) for q in rng.choice(
            ctx.inputs.sizes.embeddings, N_PANEL, replace=False)]
        # planted pairs plus seeded random edges between other documents
        n_docs = ctx.inputs.sizes.documents
        extra = rng.integers(0, n_docs, size=(n_docs // 4, 2))
        self.edges = [(int(a), int(b)) for a, b in extra if a != b]
        self.edges += list(ctx.inputs.planted)
        self.edge_file = os.path.join(ctx.sf, "edges.parquet")
        pd.DataFrame(self.edges, columns=["src", "dst"]).to_parquet(
            self.edge_file, index=False)
        self.out: dict[str, Any] = {}

    def _frames(self, ctx: Ctx) -> None:
        """The engine's input relations over the generated files."""
        from pyspark.sql import functions as F

        from spark_spotify.analytics.similarity import E_SQL
        from spark_spotify.sources.tables import load_table

        spark = ctx.spark
        self.docs = load_table(spark, ctx.sf, "documents")
        self.emb = load_table(spark, ctx.sf, "embeddings")
        self.panel = [
            (q,
             self.emb.filter(F.col("vec_id") == q).select(
                 F.expr(E_SQL).alias("q")),
             self.emb.filter(F.col("vec_id") != q))
            for q in self.queries
        ]
        self.edge_df = spark.read.parquet(self.edge_file)
        self.nodes = self.docs.select(F.col("doc_id").alias("node"))

    def _ops(self, ctx: Ctx) -> list[tuple]:
        """(output key, layer, call name, thunk, input rows) of one pass."""
        from spark_spotify.analytics import similarity as sim
        from spark_spotify.operators import components, dedup, simhash

        docs, n_docs = self.docs, ctx.inputs.sizes.documents
        n_vec = ctx.inputs.sizes.embeddings
        ops = [
            ("minhash", "operators.dedup", "minhash",
             lambda: dedup.minhash_near_dups(docs).toPandas(), n_docs),
            ("simhash", "operators.simhash", "simhash",
             lambda: simhash.simhash_near_dups(docs).toPandas(), n_docs),
            ("ngram", "operators.dedup", "ngram",
             lambda: dedup.ngram_jaccard_near_dups(docs).toPandas(), n_docs),
        ]
        ops += [
            (f"topk{q}", "analytics.similarity", "cosine_topk",
             lambda a=anchor, o=others: sim.cosine_topk(o, a, TOP_K).toPandas(),
             n_vec)
            for q, anchor, others in self.panel
        ]
        ops.append(
            ("components", "operators.components", "connected_components",
             lambda: components.connected_components(
                 self.nodes, self.edge_df).toPandas(), n_docs))
        ops.append(
            ("ann_serve", "analytics.maintained", "ann_serve",
             lambda: self.serve().toPandas(), n_vec))
        return ops

    def _run(self, ctx: Ctx, op: tuple) -> None:
        key, layer, name, fn, rows = op
        self.out[key] = ctx.tracer.call(layer, name, fn, rows)

    def _build_index(self, ctx: Ctx) -> None:
        """Build the append-maintained IVF index (base commit, centroids,
        cell assignment, a late append maintained against frozen
        centroids) in a scratch warehouse; only serving it is timed."""
        from spark_spotify.analytics.maintained import serve_factories

        self.serve, self.drop_index = ctx.tracer.call(
            "analytics.maintained", "ann_build",
            lambda: serve_factories()["ann"](ctx.spark, ctx.sf))

    def warm_calls(self, ctx: Ctx) -> list:
        self._frames(ctx)
        ops = self._ops(ctx)

        def index():
            self._build_index(ctx)
            self._run(ctx, ops[-1])

        return [index] + [lambda op=op: self._run(ctx, op) for op in ops[:-1]]

    def run_pass(self, ctx: Ctx) -> None:
        for op in self._ops(ctx):
            self._run(ctx, op)

    def check(self, ctx: Ctx) -> None:
        from spark_spotify.operators import dedup
        from spark_spotify.registry import ORACLE

        out, err = self.out, ctx.errors
        self.drop_index()
        con = duck_con(ctx.sf, ["embeddings"])
        got = out.get("ann_serve")
        bad = "missing" if got is None else diff(
            got, con.execute(ORACLE["sim_ann_maintained"]).df())
        con.close()
        if bad:
            err.append(f"maintained index serve vs oracle: {bad}")
        detectors = ["minhash", "simhash", "ngram"]
        if ctx.tracer.traced:
            # the LSH candidate set behind minhash_near_dups, for the
            # candidate-to-verified ratio of the per-layer record
            out["candidates"] = dedup.candidate_pairs(
                dedup.signatures(self.docs)).toPandas()
            detectors.append("candidates")
            if out["minhash"] is not None:
                ctx.layer["candidate_to_verified_ratio"] = len(
                    out["candidates"]) / max(1, len(out["minhash"]))
        # copies equal after trimming must all be found; copies with a
        # word appended are found with high probability only, so their
        # recall is a per-layer metric rather than a check
        planted = set(ctx.inputs.planted)
        edits = set(ctx.inputs.planted_edits)
        for key in detectors:
            df = out.get(key)
            found = set() if df is None else set(
                zip(df["doc_a"].astype(int), df["doc_b"].astype(int)))
            if planted - found:
                err.append(f"{key} missed planted pairs {sorted(planted - found)[:5]}")
            ctx.layer[f"{key}.edit_recall"] = len(edits & found) / len(edits)
        emb = pd.read_parquet(os.path.join(ctx.sf, "embeddings.parquet"))
        m = np.asarray(emb["embedding"].to_list(), dtype=np.float64)
        for q, _, _ in self.panel:
            got = out.get(f"topk{q}")
            if got is None:
                err.append(f"cosine_topk {q} missing")
                continue
            cos = (m @ m[q]) / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[q]))
            cos[q] = -np.inf
            # the engine's order: rounded cosine desc, vec_id asc
            want = np.lexsort((emb["vec_id"].to_numpy(), -np.round(cos, 6)))[:TOP_K]
            ok = len(got) == TOP_K and np.allclose(
                np.sort(got["cosine_sim"].to_numpy())[::-1],
                np.round(cos[want], 6), atol=2e-6)
            if not ok or set(got["vec_id"]) ^ set(emb["vec_id"].to_numpy()[want]):
                err.append(f"cosine_topk {q} != numpy brute force")
        got = out.get("components")
        if got is None or dict(zip(got["node"], got["label"])) != _components(
                ctx.inputs.sizes.documents, self.edges):
            err.append("connected_components != union-find")


def _components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


# --- batch -----------------------------------------------------------------


class Batch(Workload):
    """The ingest pass, then the similarity pass, over the same inputs:
    the offline jobs whose delay users feel as a batch or a dedup/ANN job
    landing late.  One workload rather than two, so that a run measures
    about twice as long a window within the run budget."""

    name = "batch"

    def prepare(self, ctx: Ctx) -> None:
        self.ingest, self.similarity = Ingest(), Similarity()
        self.ingest.prepare(ctx)
        self.similarity.prepare(ctx)

    def warm_calls(self, ctx: Ctx) -> list:
        # the longest warm-up calls come first in each list
        return self.ingest.warm_calls(ctx) + self.similarity.warm_calls(ctx)

    def run_pass(self, ctx: Ctx) -> None:
        self.ingest.run_pass(ctx)
        self.similarity.run_pass(ctx)

    def check(self, ctx: Ctx) -> None:
        self.ingest.check(ctx)
        self.similarity.check(ctx)


WORKLOADS = {w.name: w for w in (Dashboard, Batch)}
