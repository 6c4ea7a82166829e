"""Property-based tests (hypothesis) for the reusable engine operators.

The oracle harness checks fixed datasets; these check *laws* on randomized
inputs: merge semantics against a dict-based model, salted join against the
plain join, as-of against a per-row scan, and the SimHash band guarantee
(pigeonhole: every pair within Hamming 3 shares a band).  Small row counts,
many shapes — the cases hash-match oracles can't hit (empty sides, all-dup
keys, single rows).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_spotify.operators.merge import insert_if_absent, merge_upsert
from spark_spotify.operators.salted import salted_join

KEYS = st.integers(min_value=0, max_value=5)
VALS = st.integers(min_value=-100, max_value=100)
ROWS = st.lists(st.tuples(KEYS, VALS), max_size=12)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows, cols=("k", "v")):
    return spark.createDataFrame(
        [tuple(r) for r in rows] or [], schema=f"{cols[0]} int, {cols[1]} int"
    )


@given(existing=ROWS, incoming=ROWS)
@settings(**_SETTINGS)
def test_merge_upsert_matches_dict_model(spark, existing, incoming):
    # model: incoming wins per key; duplicate keys inside each side are
    # allowed in `existing` (all survive unless upserted over)
    inc_keys = {k for k, _ in incoming}
    expect = sorted(incoming + [r for r in existing if r[0] not in inc_keys])
    got = sorted(
        tuple(r)
        for r in merge_upsert(
            _df(spark, existing), _df(spark, incoming), ["k"]
        ).collect()
    )
    assert got == expect


@given(existing=ROWS, incoming=ROWS)
@settings(**_SETTINGS)
def test_insert_if_absent_keeps_existing(spark, existing, incoming):
    have = {k for k, _ in existing}
    fresh_keys = [k for k, _ in incoming if k not in have]
    got = insert_if_absent(
        _df(spark, existing), _df(spark, incoming), ["k"]
    ).collect()
    # every existing row survives untouched
    got_sorted = sorted(tuple(r) for r in got)
    for r in sorted(existing):
        assert r in got_sorted
    # exactly one row per fresh incoming key is added
    assert len(got) == len(existing) + len(set(fresh_keys))


@given(big=ROWS, small=st.lists(st.tuples(KEYS, VALS), max_size=6))
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, big, small):
    b = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(big)] or [],
        schema="rid int, k int, v int",
    )
    s = _df(spark, small, cols=("sk", "sv"))
    plain = b.join(s, b["k"] == s["sk"], "inner")
    salted = salted_join(
        b, s, "k", "sk", salt_source=F.col("rid"), n_salt=3
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


@given(
    docs=st.lists(
        st.text(
            alphabet="ab ",
            min_size=0,
            max_size=40,
        ),
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_simhash_banding_is_exhaustive_within_hamming3(spark, docs):
    """Pigeonhole law: 32 bits / 4 bands means any pair differing in <= 3
    bits agrees on at least one whole band, so the band join must surface
    every such pair."""
    from spark_spotify.operators.simhash import (
        HAMMING_MAX,
        simhash_near_dups,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)] or [],
        schema="doc_id long, text string",
    )
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(df).collect()
    }
    want = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= HAMMING_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"]) for r in simhash_near_dups(df).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="xy ", min_size=0, max_size=30), min_size=1, max_size=10
    ),
    n_batch=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_incremental_dedup_laws(spark, texts, n_batch):
    """Laws that hold regardless of LSH luck: one verdict row per new doc;
    drop_exact iff the normalized fingerprint exists in the corpus, with
    match_id = the lowest matching corpus doc; any reported near-dup
    jaccard equals the true shingle-set Jaccard of the reported pair and
    clears the threshold.  (Near-dup RECALL is hash-dependent and not a
    law — missed near-dups legitimately 'keep'.)"""
    from spark_spotify.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_W,
        incremental_near_dups,
    )

    n_batch = min(n_batch, len(texts))
    batch = [(i, t) for i, t in enumerate(texts[:n_batch])]
    corpus = [(100 + i, t) for i, t in enumerate(texts[n_batch:])]
    schema = "doc_id long, text string"
    out = {
        r.doc_id: r
        for r in incremental_near_dups(
            spark.createDataFrame(batch, schema),
            spark.createDataFrame(corpus, schema) if corpus
            else spark.createDataFrame([], schema),
        ).collect()
    }
    assert sorted(out) == [i for i, _ in batch]  # exactly one row per doc

    def norm(t):
        return t.strip().lower()

    def shingles(t):
        toks = [x for x in t.strip().split(" ")]
        return {
            " ".join(toks[i : i + SHINGLE_W])
            for i in range(len(toks) - SHINGLE_W + 1)
        }

    corpus_by_fp = {}
    for cid, ct in corpus:
        corpus_by_fp.setdefault(norm(ct), []).append(cid)
    for bid, bt in batch:
        r = out[bid]
        exact_ids = corpus_by_fp.get(norm(bt), [])
        if exact_ids:
            assert r.verdict == "drop_exact" and r.match_id == min(exact_ids)
        else:
            assert r.verdict in ("drop_near", "keep")
            if r.verdict == "drop_near":
                import decimal

                sh_n = shingles(bt)
                sh_o = shingles(dict(corpus)[r.match_id])
                # Spark's round() is HALF_UP; Python's round() is half-even
                true_j = float(
                    decimal.Decimal(
                        len(sh_n & sh_o) / len(sh_n | sh_o)
                    ).quantize(
                        decimal.Decimal("0.001"),
                        rounding=decimal.ROUND_HALF_UP,
                    )
                )
                assert r.match_jaccard == true_j >= JACCARD_THRESHOLD


EDGE_NODES = st.integers(min_value=0, max_value=9)


@given(
    edges=st.lists(
        st.tuples(EDGE_NODES, EDGE_NODES), max_size=14
    ),
    extra_nodes=st.sets(EDGE_NODES, max_size=4),
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find_model(
    spark, edges, extra_nodes
):
    """Law: labels equal each node's component minimum under a pure-Python
    union-find — randomized over self-loops, duplicate/reversed edges, and
    isolated nodes, which exercise both the partition-local contraction
    pass and the propagation rounds."""
    from spark_spotify.operators.components import connected_components

    nodes = sorted({n for e in edges for n in e} | extra_nodes)
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}

    nodes_df = spark.createDataFrame(
        [(n,) for n in nodes] or [], schema="node long"
    )
    edges_df = spark.createDataFrame(
        [e for e in edges if e[0] != e[1]] or [],
        schema="src long, dst long",
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == want
    # forced multi-partition contraction: exercises the propagation rounds
    # (auto-sizing picks 1 partition for graphs this small)
    got3 = {
        r["node"]: r["label"]
        for r in connected_components(nodes_df, edges_df, parts=3).collect()
    }
    assert got3 == want


def test_mix_epochs_laws(spark, sf_dir):
    """Epoch-mixing invariants: contiguous copy indices 1..n_epochs per
    doc, per-source epoch counts within {base, base+1} (hash resolves only
    the fractional part), and determinism across invocations."""
    from spark_spotify.analytics.curation import q_mix_epochs

    rows = q_mix_epochs(spark, sf_dir).collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault((r.doc_id, r.source, r.n_epochs), []).append(
            r.copy_idx
        )
    for (doc_id, _src, n_epochs), idxs in per_doc.items():
        assert sorted(idxs) == list(range(1, n_epochs + 1)), doc_id
    by_source: dict = {}
    for (doc_id, src, n_epochs), _ in per_doc.items():
        by_source.setdefault(src, set()).add(n_epochs)
    for src, counts in by_source.items():
        assert len(counts) <= 2 and max(counts) - min(counts) <= 1, src
    again = q_mix_epochs(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multiprobe LSH searches a superset of the single-bucket candidates
    (probe_dist=0 ring IS the single bucket), so its top-k cosine scores
    dominate the single-probe top-k rank-for-rank."""
    from spark_spotify.analytics.similarity import (
        q_ann_lsh_multiprobe,
        q_ann_lsh_topk,
    )

    single = [r.cosine_sim for r in q_ann_lsh_topk(spark, sf_dir).collect()]
    multi = [
        r.cosine_sim for r in q_ann_lsh_multiprobe(spark, sf_dir).collect()
    ]
    assert len(multi) >= len(single)
    for rank, s in enumerate(single):
        assert multi[rank] >= s, (rank, multi[rank], s)


MONEY = st.decimals(
    min_value=-99999, max_value=99999, places=2, allow_nan=False
)


@given(vals=st.lists(MONEY, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_lsum_bitwise_matches_dsum(spark, vals):
    """The split-accumulator scaled-long sum must be BIT-identical to the
    exact-decimal sum for any sign mix — the invariant that lets lsum
    replace dsum without touching a single oracle."""
    import struct

    from spark_spotify.functions.agg import dsum, lsum

    df = spark.createDataFrame(
        [(float(v),) for v in vals], schema="x double"
    )
    row = df.agg(
        dsum(F.col("x"), 2).alias("d"), lsum(F.col("x"), 2).alias("l")
    ).collect()[0]
    assert struct.pack("d", row.d) == struct.pack("d", row.l), (
        row.d,
        row.l,
    )


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.integers(-5, 5)), max_size=24
    ),
    n_parts=st.integers(1, 4),
    cut=st.integers(-5, 5),
)
@settings(**_SETTINGS)
def test_delete_rows_matches_filter_model(spark, rows, n_parts, cut):
    """Law: after delete_rows(pred), the table reads exactly as the
    NULL-safe filtered baseline, regardless of how rows are split into
    parts; unaffected parts keep their manifest entries."""
    import shutil
    import tempfile

    from spark_spotify.warehouse import (
        commit,
        delete_rows,
        manifest_parts,
        read_table,
    )

    wh = tempfile.mkdtemp(prefix="spark_spotify_prop_wh_")
    try:
        parts = []
        chunks = [rows[i::n_parts] for i in range(n_parts)]
        for i, chunk in enumerate(c for c in chunks if c):
            _df(spark, chunk).coalesce(1).write.parquet(f"{wh}/t/p{i}")
            parts.append(f"p{i}")
        if not parts:
            return
        commit(wh, "t", parts=parts)
        pred = F.col("v") > cut
        n_aff = delete_rows(spark, wh, "t", pred, "x")
        got = sorted(
            (r.k, r.v) for r in read_table(spark, wh, "t").collect()
        )
        want = sorted((k, v) for k, v in rows if not (v > cut))
        assert got == want
        live = manifest_parts(wh, "t")
        if n_aff == 0:
            assert live == parts  # no-op delete commits nothing
        else:
            assert live[-1] == "dx" and len(live) == len(parts) - n_aff + 1
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SYMS = st.lists(
    st.sampled_from(["a", "b", "c", "ab", "bc", "x"]),
    min_size=0,
    max_size=10,
)


@given(
    seqs=st.lists(SYMS, min_size=1, max_size=6),
    pair=st.tuples(
        st.sampled_from(["a", "b", "c", "ab"]),
        st.sampled_from(["a", "b", "c", "bc"]),
    ),
)
@settings(**_SETTINGS)
def test_spaced_replace_is_greedy_bpe_merge(spark, seqs, pair):
    """The double-space-delimited replace trick (text_bpe_train) IS the
    greedy left-to-right BPE merge: Spark's literal replace on the
    spaced encoding must equal a symbol-list fold model — including
    overlapping runs (a,a on [a,a,a] -> [aa,a]) and symbols that are
    concatenations of other symbols."""
    a, b = pair

    def model(syms):
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    spaced = ["  " + "  ".join(s) + "  " if s else "    " for s in seqs]
    df = spark.createDataFrame([(x,) for x in spaced], "s string")
    got = [
        r["m"]
        for r in df.select(
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("m")
        ).collect()
    ]
    want = [
        "  " + "  ".join(model(s)) + "  " if model(s) else "    "
        for s in seqs
    ]
    assert got == want


PRUNE_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),
    ),
    min_size=0,
    max_size=15,
)


@given(
    rows=PRUNE_ROWS,
    splits=st.lists(st.integers(0, 2), min_size=1, max_size=15),
    op=st.sampled_from(["=", "<", "<=", ">", ">="]),
    col=st.sampled_from(["id", "v"]),
    lit=st.integers(min_value=-55, max_value=55),
)
@settings(**_SETTINGS)
def test_prune_read_equals_full_filter(spark, rows, splits, op, col, lit):
    """Pruning soundness on randomized tables: arbitrary rows (with
    NULLs) dealt into up to 3 append commits, arbitrary simple
    predicate — read_table_where must equal the unpruned filtered read
    row-for-row."""
    import shutil
    import tempfile

    from spark_spotify.warehouse import (
        commit_append,
        read_table,
        read_table_where,
    )

    w = tempfile.mkdtemp(prefix="spark_spotify_test_prp_")
    try:
        dealt = {0: [], 1: [], 2: []}
        for i, r in enumerate(rows):
            dealt[splits[i % len(splits)]].append((i, *r))
        for k in range(3):
            df = spark.createDataFrame(
                dealt[k] or [], schema="rid int, id int, v int"
            )
            commit_append(df, w, "t", k + 1)
        got = read_table_where(spark, w, "t", [(col, op, lit)])
        ops = {
            "=": F.col(col) == lit,
            "<": F.col(col) < lit,
            "<=": F.col(col) <= lit,
            ">": F.col(col) > lit,
            ">=": F.col(col) >= lit,
        }
        want = read_table(spark, w, "t").filter(ops[op])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        shutil.rmtree(w, ignore_errors=True)


@given(
    old=st.lists(
        st.tuples(
            st.integers(0, 20),          # event key
            st.integers(0, 3),           # group
            st.integers(-9999, 9999),    # value in cents
        ),
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    new=st.lists(
        st.tuples(
            st.integers(0, 20),
            st.integers(0, 3),
            st.integers(-9999, 9999),
        ),
        max_size=10,
        unique_by=lambda r: r[0],
    ),
)
@settings(**_SETTINGS)
def test_delta_apply_mv_equals_recompute(spark, old, new):
    """IVM law: delta_apply_mv(agg(s0), change_feed(s0, s1)) == agg(s1)
    for ANY two keyed snapshots — inserts, deletes, updates, group
    retirement, empty sides, and a fully-replaced corpus all covered by
    the randomization."""
    from spark_spotify.warehouse import change_feed, delta_apply_mv
    from spark_spotify.functions.agg import lsum

    def df(rows):
        return spark.createDataFrame(
            [(k, g, v / 100.0) for k, g, v in rows] or [],
            schema="event_id int, user_id int, value double",
        )

    def agg(d):
        return d.groupBy("user_id").agg(
            lsum(F.col("value")).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )

    s0, s1 = df(old), df(new)
    maintained = delta_apply_mv(agg(s0), change_feed(s0, s1, "event_id"), "user_id")
    expect = sorted(map(tuple, agg(s1).collect()))
    got = sorted(map(tuple, maintained.collect()))
    assert got == expect
