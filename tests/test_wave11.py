"""Round-11 additions: the persisted-band-index serving twin for
incremental dedup (VERDICT r10 #6) — the dedup family's
build-once/probe-many split, mirroring what sim-knn-ivf-persist /
sim-knn-ivfpq-res already pin for the ANN family.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_incr_persist_bit_identical_to_rebuild(spark):
    """The persisted probe must be BIT-identical to the in-session
    rebuild AT THE SAME SPLIT, on BOTH hash paths: band_hash strings
    and doc ids round-trip parquet exactly, and batch-side
    filter-then-sign equals sign-then-filter (a signature depends only
    on its own text). This is the equivalence gate the registration's
    docstring promises. Also pins the batch semantics: every signed
    batch doc's exact copy sits in the index, so n_hit_bands is
    NUM_BANDS for every row under any hash."""
    from itdb_spark.operators.dedup import (
        NUM_BANDS,
        band_collision_counts,
        minhash_bands,
        minhash_signatures,
    )
    from itdb_spark.queries.pipeline import _dedup_incr_persist_impl, corpus

    for hash_fn in ("portable", "xxhash64"):
        bands = minhash_bands(
            minhash_signatures(
                corpus(spark, SF_DIR), "doc_id", "text", hash_fn=hash_fn
            )
        )
        rebuild = {
            tuple(r)
            for r in band_collision_counts(
                bands.where(F.col("doc") % 300000 >= 200000),
                bands.where(F.col("doc") % 300000 < 200000),
            ).collect()
        }
        persisted = {
            tuple(r)
            for r in _dedup_incr_persist_impl(spark, SF_DIR, hash_fn).collect()
        }
        assert persisted == rebuild, (
            f"{hash_fn}: persisted probe diverged from rebuild "
            f"({len(persisted)} vs {len(rebuild)} rows)"
        )
        assert rebuild, f"{hash_fn}: empty result proves nothing"
        assert all(n == NUM_BANDS for _, n in persisted), (
            "a batch doc missed bands despite an exact index copy"
        )


def test_persist_band_index_layout_and_refresh(spark, tmp_path):
    """persist_band_index publishes a hive-partitioned (band=N dirs)
    versioned table through the atomic-manifest kernel: read_current
    round-trips exactly, a refresh publishes v2 while v1 stays intact
    for pinned readers, and vacuum retention applies."""
    from itdb_spark.operators.dedup import (
        NUM_BANDS,
        minhash_bands,
        minhash_signatures,
        persist_band_index,
    )
    from itdb_spark.sinks import versioned as V

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    bands = minhash_bands(minhash_signatures(docs, "doc_id", "text"))
    root = str(tmp_path / "band_index")

    v1 = persist_band_index(bands, root)
    assert v1 == "v1" and V.current_version(root) == "v1"
    # hive layout: one band=N dir per band inside the version dir
    band_dirs = sorted(
        d for d in os.listdir(os.path.join(root, "v1"))
        if d.startswith("band=")
    )
    assert band_dirs == [f"band={b}" for b in range(NUM_BANDS)]
    # exact round-trip (partition column comes back typed)
    got = {
        (r.doc, r.band, r.band_hash)
        for r in V.read_current(spark, root).collect()
    }
    want = {(r.doc, r.band, r.band_hash) for r in bands.collect()}
    assert got == want

    # refresh: publish a smaller rebuild as v2; v1 remains readable
    v2 = persist_band_index(
        minhash_bands(
            minhash_signatures(docs.limit(10), "doc_id", "text")
        ),
        root,
    )
    assert v2 == "v2" and V.current_version(root) == "v2"
    assert V.read_current(spark, root).select("doc").distinct().count() <= 10
    assert spark.read.parquet(os.path.join(root, "v1")).count() == len(want)


def test_persisted_probe_scans_index_files(spark):
    """The amortized path's entire point: the timed probe plan reads the
    PERSISTED index from disk (a parquet scan of the index root) and
    computes signatures only for the batch — the index side must not
    re-derive bands from documents.parquet. Column pruning on the index
    scan: the probe needs (band, band_hash) keys only, so the data-file
    read schema must not fetch doc."""
    from itdb_spark.queries.pipeline import (
        _band_index_root,
        _dedup_incr_persist_impl,
    )

    probe = _dedup_incr_persist_impl(spark, SF_DIR, "portable")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    root = _band_index_root(spark, SF_DIR, "portable")
    assert os.path.basename(os.path.dirname(root)) in plan, (
        f"index path missing from probe plan:\n{plan}"
    )
    # the index-side scan line mentions the index path; its ReadSchema
    # must carry band_hash only (doc pruned; band is a partition col)
    idx_lines = [
        ln for ln in plan.splitlines()
        if "band_idx" in ln and "ReadSchema" in ln
    ]
    assert idx_lines, f"no index scan with ReadSchema in plan:\n{plan}"
    for ln in idx_lines:
        assert "band_hash" in ln and "doc" not in ln.split("ReadSchema")[1], ln


# --- round-11 additions: exactspan / kmeans / cov / pixels ------------------


def test_exactspan_island_merge_semantics(spark):
    """Hand-built corpus with KNOWN span structure: doc A and doc B share
    a 10-word prefix and a 12-word suffix separated by doc-unique middles
    — each must report exactly 2 spans of widths 10 and 12; doc C shares
    nothing and must not appear. Exercises the gaps-and-islands merge
    (consecutive duplicated 8-gram starts coalesce) independently of the
    registered query's corpus construction."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    shared_pre = " ".join(f"p{i}" for i in range(10))
    shared_suf = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, f"{shared_pre} aa1 aa2 aa3 {shared_suf}"),
        (2, f"{shared_pre} bb1 bb2 bb3 {shared_suf}"),
        (3, " ".join(f"c{i}" for i in range(30))),
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc", "text"]))
    toks = d.select("doc", F.split(F.trim(F.lower("text")), r"\s+").alias("toks"))
    grams = toks.where(F.size("toks") >= 8).select(
        "doc",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(toks) - 7), "
                "i -> array_join(slice(toks, i, 8), ' '))"
            )
        ).alias("p0", "gram"),
    ).select("doc", (F.col("p0") + 1).alias("p"), "gram")
    dup = (
        grams.withColumn("cnt", F.count("*").over(Window.partitionBy("gram")))
        .where(F.col("cnt") >= 2)
    )
    isl = dup.withColumn(
        "grp",
        F.col("p") - F.row_number().over(Window.partitionBy("doc").orderBy("p")),
    )
    spans = (
        isl.groupBy("doc", "grp")
        .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        .select("doc", "s", (F.col("e") - F.col("s") + 8).alias("width"))
        .collect()
    )
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc, []).append((r.s, r.width))
    assert 3 not in by_doc, "doc C shares no 8-gram yet produced a span"
    # prefix span: starts at 1, width 10; suffix: width 12 at the tail.
    # docs are 25 words: suffix starts at word 14 -> gram starts 14..18
    for doc in (1, 2):
        got = sorted(by_doc[doc])
        assert got == [(1, 10), (14, 12)], (doc, got)


def test_exactspan_deploy_twin_and_no_broadcast(spark):
    """The xxhash64 deploy twin must equal the graded portable form
    exactly (the duplication test is hash-independent: equal grams,
    equal keys), and NEITHER plan may contain a broadcast — the gram
    frame grows with the corpus (the text-novelty sf10 OOM class), so
    the window-count construction must keep the plan join-free."""
    from itdb_spark.queries.pipeline import _dedup_exactspan_impl

    a = _dedup_exactspan_impl(spark, SF_DIR)
    b = _dedup_exactspan_impl(spark, SF_DIR, "xxhash64")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    for df in (a, b):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        assert "Join" not in plan, f"exactspan must be join-free:\n{plan}"


def test_kmeans_deterministic_and_exact_recenter(spark):
    """Two independent builds must agree row-for-row (the whole pipeline
    is exact integer arithmetic — any nondeterminism is a bug), every
    vector must be assigned to one of k clusters, and re-deriving the
    final centroids from the assignment must reproduce the exact
    floor-mean the next round would use (the update rule is closed
    under the output)."""
    import math

    from itdb_spark.queries.pipeline import _emb_kmeans_impl

    r1 = {r.vec_id: (r.cluster, r.dist2) for r in _emb_kmeans_impl(spark, SF_DIR).collect()}
    r2 = {r.vec_id: (r.cluster, r.dist2) for r in _emb_kmeans_impl(spark, SF_DIR).collect()}
    assert r1 == r2
    assert r1, "empty assignment proves nothing"
    clusters = {c for c, _ in r1.values()}
    assert clusters <= {0, 1, 2, 3} and len(clusters) >= 2
    assert all(d >= 0 for _, d in r1.values())
    assert math.floor(7 / 2) == 3  # guard the floor semantics the impl cites


def test_kmeans_empty_cluster_keeps_centroid(spark, tmp_path):
    """Degenerate corpus: two tight point groups, k=4 seeds all inside
    them — at least one cluster must empty out during an update, and
    the run must still terminate with every vector assigned (the
    empty-cluster fallback keeps the stale centroid instead of
    crashing or dividing by zero)."""
    from itdb_spark.catalog import TESTDATA_SCHEMAS
    from itdb_spark.queries.pipeline import _emb_kmeans_impl

    vecs = []
    for vid in range(8):
        base = 0.9 if vid % 2 == 0 else -0.9
        vecs.append((vid, [base + vid * 1e-7] * 64, 0))
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    # written in the testdata layout (float vectors, int label): tables
    # load under their declared catalog schema, which a drifted file fails
    spark.createDataFrame(vecs, TESTDATA_SCHEMAS["embeddings"]).write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    # satisfy Tables() lazily — only embeddings is read by the impl
    out = _emb_kmeans_impl(spark, sf).collect()
    assert len(out) == 8
    assert all(r.cluster in (0, 1, 2, 3) for r in out)


def test_emb_cov_diagonal_matches_dimstats_moments(spark, duck):
    """The i == j rows of emb-cov are exactly the per-dim sum-of-squares
    — cross-checked against an independent DuckDB aggregation, and the
    triangle is complete: d*(d+1)/2 rows with a constant n_vecs."""
    from itdb_spark.queries import load_all

    q = load_all()["emb-cov"]
    rows = {(r.i, r.j): (r.n_vecs, r.sumxy) for r in q.spark(spark, SF_DIR).collect()}
    d = 64
    assert len(rows) == d * (d + 1) // 2
    assert len({n for n, _ in rows.values()}) == 1
    diag = duck.execute(f"""
        SELECT g.i, CAST(sum(
          CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          * CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          ) AS VARCHAR)
        FROM read_parquet('{SF_DIR}/embeddings.parquet') e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
        WHERE e.embedding IS NOT NULL GROUP BY 1
    """).fetchall()
    for i, ss in diag:
        assert rows[(i, i)][1] == ss, (i, rows[(i, i)], ss)


def test_emb_cov_single_exchange_plan(spark):
    """emb-cov's 100 TB claim is 'one pass, one shuffle': the executed
    plan must contain exactly one shuffle exchange (the (i, j) hash
    partitioning over map-side partial sums) and no join of any kind."""
    from itdb_spark.queries import load_all

    df = load_all()["emb-cov"].spark(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    import re

    n_shuffle = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_shuffle == 1, f"want exactly 1 shuffle, plan:\n{plan}"


def test_mm_pixels_sums_come_from_decoded_bytes(spark):
    """mm-pixels' sums must equal an INDEPENDENT arithmetic prediction of
    the synthesized pixels — since the query computes them from the
    decoded bytes of a real PNG (the impl raises on geometry drift and
    the codec raises on CRC/filter damage), agreement here means the
    encode→decode round-trip preserved every byte for every doc checked."""
    from itdb_spark.queries import load_all

    q = load_all()["mm-pixels"]
    rows = {r.doc_id: (r.px_sum, r.px_wsum) for r in q.spark(spark, SF_DIR).collect()}
    assert len(rows) >= 100
    for doc_id in list(rows)[:5]:
        w = 1 + doc_id % 13
        h = 1 + (doc_id * 3) % 11
        vals = [(doc_id * 31 + i * 7) % 251 for i in range(w * h * 3)]
        assert rows[doc_id] == (
            sum(vals),
            sum((i + 1) * v for i, v in enumerate(vals)),
        ), doc_id


def test_despan_exact_accounting(spark):
    """kept_words + dup_words == n_words for EVERY corpus doc; the corpus
    is exactly 2x the non-empty base docs (LEFT join keeps span-free and
    sub-8-word docs); sub-8-word docs must report dup_words == 0."""
    from itdb_spark.queries import load_all

    rows = load_all()["text-despan-exact"].spark(spark, SF_DIR).collect()
    assert all(r.kept_words + r.dup_words == r.n_words for r in rows)
    assert all(r.dup_words == 0 for r in rows if r.n_words < 8)
    n_base = (
        load_all()["text-despan-exact"]
        .spark(spark, SF_DIR)
        .where("doc_id < 100000")
        .count()
    )
    assert len(rows) == 2 * n_base
    assert any(r.dup_words > 0 for r in rows), "no spans at all proves nothing"


def test_src_orc_fixture_discipline(spark, tmp_path):
    """The ORC fixture reuses only a regular file WE own and replaces a
    pre-created symlink instead of following it (the rounds-9/10
    shared-/tmp hazard class), and Spark's read of the pyarrow-written
    file reproduces the arithmetic content exactly."""
    import os

    from itdb_spark.queries.scans import _synth_orc

    # pre-created symlink at the fixture path must be replaced, not
    # followed: the write may not land at the symlink's target
    target = tmp_path / "foreign.orc"
    target.write_bytes(b"not orc")
    link = tmp_path / "fixture.orc"
    link.symlink_to(target)
    _synth_orc(str(link))
    assert not os.path.islink(link), "symlink must be replaced by a real file"
    assert target.read_bytes() == b"not orc", "write redirected through symlink"
    # reuse: second call must keep the same inode (no rewrite of our file)
    ino = os.stat(link).st_ino
    _synth_orc(str(link))
    assert os.stat(link).st_ino == ino
    got = spark.read.schema("id long, val long, tag string, flag boolean").orc(
        str(link)
    )
    rows = {r.id: (r.val, r.tag, r.flag) for r in got.collect()}
    assert len(rows) == 500
    for i in (0, 7, 499):
        assert rows[i] == ((i * 37) % 101, f"t{i % 7}", i % 3 == 0)


def test_graph_bfs_invariants(spark):
    """BFS distances are well-formed: every seed (node % 11 == 0 among
    graph nodes) is at dist 0, every non-seed reachable node's dist is
    1 + min over neighbors' dists (the Bellman relaxation identity —
    the frontier loop cannot overshoot OR undershoot a hop), each node
    appears exactly once, and dist never exceeds the radius."""
    from itdb_spark.queries.pipeline import graph_bfs

    got = {r.doc: r.dist for r in graph_bfs(spark, SF_DIR).collect()}
    assert got, "empty BFS result proves nothing"
    assert max(got.values()) <= 3 and min(got.values()) == 0

    from itdb_spark.operators.dedup import minhash_candidates
    from itdb_spark.queries.pipeline import corpus

    pairs = minhash_candidates(
        corpus(spark, SF_DIR), "doc_id", "text"
    ).select("id1", "id2").collect()
    adj: dict[int, set[int]] = {}
    for r in pairs:
        adj.setdefault(r.id1, set()).add(r.id2)
        adj.setdefault(r.id2, set()).add(r.id1)
    seeds = {n for n in adj if n % 11 == 0}
    assert seeds and all(got[s] == 0 for s in seeds)
    for node, d in got.items():
        if d == 0:
            assert node in seeds
        else:
            assert d == 1 + min(
                got.get(nb, 99) for nb in adj[node]
            ), f"node {node}: dist {d} violates the relaxation identity"
    # reference BFS (pure Python) must agree exactly within the radius
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in (1, 2, 3):
        nxt = {
            nb for n in frontier for nb in adj[n] if nb not in dist
        }
        for n in nxt:
            dist[n] = h
        frontier = nxt
    assert got == dist


def test_src_text_wholetext_and_glob_filter(spark, tmp_path):
    """wholetext returns ONE row per file with the exact byte content
    (including interior and trailing newlines), and the pathGlobFilter
    + _-prefix discipline keeps stage/foreign files out of the scan."""
    from itdb_spark.queries.scans import (
        _synth_file_dir,
        _text_fixture_payload,
    )

    root = tmp_path / "txt"
    spec = [(f"doc{i:02d}.txt", _text_fixture_payload(i)) for i in range(5)]
    _synth_file_dir(str(root), spec)
    # pollution a crashed writer / foreign process could leave behind:
    (root / "_stage_999_doc00.txt").write_text("orphan")
    (root / "README.md").write_text("not a doc")
    got = (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(str(root), wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
            "value",
        )
        .collect()
    )
    rows = {r.f: r.value for r in got}
    assert set(rows) == {name for name, _ in spec}
    for name, payload in spec:
        assert rows[name] == payload.decode("ascii")


def test_synth_file_dir_ownership_and_reuse(tmp_path):
    """_synth_file_dir follows the _synth_pq_dir discipline: reuse our
    regular files by inode, replace a pre-created symlink instead of
    following it."""
    import os

    from itdb_spark.queries.scans import _synth_file_dir

    root = tmp_path / "fix"
    target = tmp_path / "foreign"
    target.write_bytes(b"foreign")
    os.makedirs(root)
    (root / "a.bin").symlink_to(target)
    _synth_file_dir(str(root), [("a.bin", b"payload")])
    assert not os.path.islink(root / "a.bin")
    assert target.read_bytes() == b"foreign", "write followed the symlink"
    assert (root / "a.bin").read_bytes() == b"payload"
    ino = os.stat(root / "a.bin").st_ino
    _synth_file_dir(str(root), [("a.bin", b"payload")])
    assert os.stat(root / "a.bin").st_ino == ino, "owned file was rewritten"


def test_src_binaryfile_content_hash(spark):
    """Spark's binaryFile reader must deliver the exact payload bytes:
    md5 over the binary column equals hashlib over the generating
    bytes, and length equals the payload size."""
    import hashlib

    from itdb_spark.queries.scans import (
        _binary_fixture_payload,
        src_binaryfile,
    )

    rows = {r.fname: r for r in src_binaryfile(spark, SF_DIR).collect()}
    assert len(rows) == 30
    for i in (0, 4, 13, 29):
        payload = _binary_fixture_payload(i)
        r = rows[f"blob{i:02d}.bin"]
        assert r.n_bytes == len(payload)
        assert r.content_md5 == hashlib.md5(payload).hexdigest()


def test_agg_mannkendall_matches_python(spark):
    """S statistic, pair split, and n_days against a brute-force Python
    Mann-Kendall over the same per-(type, day) counts."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_mannkendall

    t = Tables(spark, SF_DIR)
    daily = (
        t.events.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list[tuple]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.cnt))
    expect = {}
    for et, pts in series.items():
        pts.sort()
        xs = [c for _, c in pts]
        n = len(xs)
        if n < 2:
            continue  # no pairs -> type absent from the join output
        conc = sum(
            1 for i in range(n) for j in range(i + 1, n) if xs[j] > xs[i]
        )
        disc = sum(
            1 for i in range(n) for j in range(i + 1, n) if xs[j] < xs[i]
        )
        expect[et] = (n, conc - disc, conc, disc)
    got = {
        r.event_type: (r.n_days, r.s_stat, r.concordant, r.discordant)
        for r in agg_mannkendall(spark, SF_DIR).collect()
    }
    assert got == expect


def test_emb_pca_matches_python_and_numpy_direction(spark):
    """Exact triangulation: a pure-Python integer replication of the
    4-step power iteration from the raw embeddings must reproduce the
    operator byte-for-byte (third engine vs Spark and DuckDB). Sanity:
    the direction agrees with numpy's leading eigenvector of the
    micro-integer second-moment matrix (|cos| > 0.999 — four power
    steps on a spectrum with a clear top eigenvalue)."""
    import math

    import numpy as np

    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import emb_pca

    vecs = [
        r.embedding
        for r in Tables(spark, SF_DIR).embeddings.collect()
        if r.embedding is not None
    ]
    x = [[math.floor(float(v) * 1000000 + 0.5) for v in vec] for vec in vecs]
    d = len(x[0])
    m = [[sum(row[i] * row[j] for row in x) for j in range(d)] for i in range(d)]
    v = [1000000] * d
    w = [0] * d
    for _ in range(4):
        w = [sum(m[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(c) for c in w)
        v = [
            0 if mx == 0 else (-1 if w[i] < 0 else 1) * ((abs(w[i]) * 1000000) // mx)
            for i in range(d)
        ]
    got = {r.dim: (r.v_micro, r.w_abs) for r in emb_pca(spark, SF_DIR).collect()}
    assert got == {i + 1: (v[i], str(abs(w[i]))) for i in range(d)}
    # Sanity on what 4 power steps GUARANTEE: the Rayleigh quotient of
    # the iterate lower-bounds lambda_max and improves monotonically
    # from the all-ones start. This synthetic corpus is spectrally
    # near-degenerate (lambda1/lambda2 ~ 1.07 measured), so demanding
    # eigenVECTOR agreement would test the corpus, not the algorithm.
    mf = np.array(m, dtype=float)
    lam = np.linalg.eigvalsh(mf)[-1]
    gv = np.array([v[i] for i in range(d)], dtype=float)
    v0 = np.ones(d)
    r4 = float(gv @ mf @ gv) / float(gv @ gv)
    r0 = float(v0 @ mf @ v0) / float(v0 @ v0)
    assert r0 - 1e-9 <= r4 <= lam * (1 + 1e-9)
    assert r4 / lam > 0.8, f"4-step Rayleigh too far from lambda_max: {r4 / lam}"


def test_pca_power_iteration_nails_planted_direction():
    """On a matrix WITH a dominant direction (rank-1 spike + noise —
    the regime PCA exists for), the exact-integer 4-step iteration
    recovers the planted direction to |cos| > 0.999. Pure-Python
    replication of the operator's driver-side loop."""
    import numpy as np

    rng = np.random.default_rng(7)
    d = 16
    u = rng.normal(size=d)
    u /= np.linalg.norm(u)
    noise = rng.normal(size=(d, d))
    mf = 1e6 * np.outer(u, u) + 1e3 * (noise + noise.T)
    m = [[int(round(mf[i][j])) for j in range(d)] for i in range(d)]
    v = [1000000] * d
    for _ in range(4):
        w = [sum(m[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(c) for c in w)
        v = [
            0 if mx == 0 else (-1 if w[i] < 0 else 1) * ((abs(w[i]) * 1000000) // mx)
            for i in range(d)
        ]
    gv = np.array(v, dtype=float)
    cos = abs(float(gv @ u) / np.linalg.norm(gv))
    assert cos > 0.999, f"planted direction missed: {cos}"


def test_join_bloom_no_false_negatives_and_exact(spark):
    """The bloom pre-filter may only ADD candidates (no false
    negatives — losslessness is the whole contract), and the final
    result equals the plain semi-join."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.joins import join_bloom

    t = Tables(spark, SF_DIR)
    keys = {
        r.c_custkey
        for r in t.customer.where(F.col("c_nationkey") == 5)
        .select("c_custkey")
        .collect()
    }
    expect = {
        (r.o_orderkey, r.o_custkey)
        for r in t.orders.select("o_orderkey", "o_custkey").collect()
        if r.o_custkey in keys
    }
    got = {(r.o_orderkey, r.o_custkey) for r in join_bloom(spark, SF_DIR).collect()}
    assert got == expect
    assert expect, "empty semi-join proves nothing"


def test_agg_theilsen_matches_python(spark):
    """Lower-median of sign-split pairwise slopes against brute-force
    Python over the same daily rollup."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_theilsen

    t = Tables(spark, SF_DIR)
    daily = (
        t.events.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.cnt))
    expect = {}
    for et, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dy = pts[j][1] - pts[i][1]
                dx = (pts[j][0] - pts[i][0]).days
                slopes.append(
                    (-1 if dy < 0 else 1) * ((abs(dy) * 1000000) // dx)
                )
        if slopes:
            slopes.sort()
            expect[et] = (len(slopes), slopes[(len(slopes) + 1) // 2 - 1])
    got = {
        r.event_type: (r.n_pairs, r.slope_micro)
        for r in agg_theilsen(spark, SF_DIR).collect()
    }
    assert got == expect


def test_stream_topk_live_matches_batch_rank(spark):
    """The streaming windowed counts + serving-layer rank cut must equal
    the rank cut over the BATCH windowed counts (same engine both
    sides, so this isolates the streaming execution; the DuckDB oracle
    isolates the semantics), and every window emits at most 3 rows."""
    from itdb_spark.queries.streamingq import stream_topk_live

    got = [
        (r.window_start, r.event_type, r.cnt)
        for r in stream_topk_live(spark, SF_DIR).collect()
    ]
    assert got, "empty top-k proves nothing"
    from collections import Counter

    per_window = Counter(ws for ws, _, _ in got)
    assert max(per_window.values()) <= 3

    from itdb_spark.catalog import Tables

    batch = (
        Tables(spark, SF_DIR)
        .events.where(F.col("ts").isNotNull())
        .groupBy(
            F.unix_timestamp(F.window("ts", "1 hour").start).alias("ws"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    windows: dict[int, list] = {}
    for r in batch:
        windows.setdefault(r.ws, []).append((-r.cnt, r.event_type, r.cnt))
    expect = []
    for ws, rows in windows.items():
        rows.sort()
        expect.extend((ws, et, c) for _, et, c in rows[:3])
    assert sorted(got) == sorted(expect)


def test_agg_winsorize_matches_python(spark):
    """Histogram-rank winsorized sum against brute-force Python: sort
    the cents values, clamp at the (k+1)-th / (n-k)-th order statistics
    (k = n//10), sum."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_winsorize

    t = Tables(spark, SF_DIR)
    vals: dict[str, list[int]] = {}
    for r in t.events.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(round(r.value * 100))
    expect = {}
    for et, xs in vals.items():
        xs = sorted(int(x) for x in xs)
        n = len(xs)
        k = n // 10
        lo, hi = xs[k], xs[n - k - 1]
        expect[et] = (n, k, sum(min(max(x, lo), hi) for x in xs))
    got = {
        r.event_type: (r.n, r.k, r.wsum_cents)
        for r in agg_winsorize(spark, SF_DIR).collect()
    }
    assert got == expect


def test_src_jdbc_round_trip_and_pushdown(spark):
    """The Derby detour is lossless against the original parquet frame, and the
    n_chars predicate reaches the JDBC scan (PushedFilters in the
    executed plan) — the filter must run in the 'remote' database, not
    as a post-scan Spark Filter alone."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.scans import src_jdbc

    got = src_jdbc(spark, SF_DIR)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan.split("PushedFilters")[1].split("]")[0], plan
    want = {
        (r.doc_id, r.lang, r.source, r.n_chars)
        for r in Tables(spark, SF_DIR)
        .documents.where((F.col("doc_id") < 300) & (F.col("n_chars") > 50))
        .select("doc_id", "lang", "source", "n_chars")
        .collect()
    }
    assert {(r.doc_id, r.lang, r.source, r.n_chars) for r in got.collect()} == want
    assert want, "empty round trip proves nothing"


def test_containment_canonicalize_semantics(spark):
    """Hand corpus for the canonicalize-then-verify rewrite: three docs
    with IDENTICAL text (one distinct shingle set) plus one short doc
    fully contained in them. Expect all three identical pairs at
    containment 1000 (emitted arithmetically, never verified) and the
    short doc contained in EACH of the three (set-pair verified once,
    expanded to three doc pairs)."""
    import pandas as pd

    from itdb_spark.operators.dedup import containment_join

    long_text = " ".join(f"w{i}" for i in range(20))
    short_text = " ".join(f"w{i}" for i in range(10))
    d = spark.createDataFrame(
        pd.DataFrame(
            [(1, long_text), (2, long_text), (3, long_text), (4, short_text)],
            columns=["doc", "text"],
        )
    )
    got = {
        (r.id1, r.id2): (r.inter, r.small, r.contain_milli)
        for r in containment_join(d, "doc", "text").collect()
    }
    # identical docs: 18 shingles each (20 words -> 18 3-grams)
    assert got[(1, 2)] == got[(1, 3)] == got[(2, 3)] == (18, 18, 1000)
    # short doc: 8 shingles, all present in the long text
    for other in (1, 2, 3):
        assert got[(other, 4)] == (8, 8, 1000)
    assert len(got) == 6


def test_mm_pixeldedup_containers_differ_content_matches():
    """The premise of mm-pixeldedup: docs in one pixel group encode the
    SAME image to byte-DIFFERENT spec-valid PNGs (filter phase), so
    byte-level dedup cannot find the group but decoded-content dedup
    must. Pure-codec check, no Spark."""
    from itdb_spark.operators.pngcodec import decode_png_pixels, encode_png

    g = 7
    w, h = 1 + g % 13, 1 + (g * 3) % 11
    raw = bytes((g * 31 + i * 7) % 251 for i in range(w * h * 3))
    pngs = [encode_png(w, h, raw, 2, phase=p) for p in range(5)]
    assert len({p for p in pngs}) == 5, "phases must produce distinct bytes"
    assert {decode_png_pixels(p) for p in pngs} == {(w, h, 3, raw)}


def test_agg_iqr_matches_python(spark):
    """Quartile ranks, IQR, and Tukey fence counts against brute-force
    Python over the same cents values."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_iqr

    t = Tables(spark, SF_DIR)
    vals: dict[str, list[int]] = {}
    for r in t.events.select("event_type", "value").collect():
        if r.value is not None:
            vals.setdefault(r.event_type, []).append(round(r.value * 100))
    expect = {}
    for et, xs in vals.items():
        xs = sorted(int(x) for x in xs)
        n = len(xs)
        q1 = xs[(n + 3) // 4 - 1]
        q3 = xs[(3 * n + 3) // 4 - 1]
        iqr = q3 - q1
        lo = sum(1 for x in xs if 2 * x < 2 * q1 - 3 * iqr)
        hi = sum(1 for x in xs if 2 * x > 2 * q3 + 3 * iqr)
        expect[et] = (n, q1, q3, iqr, lo, hi)
    got = {
        r.event_type: (r.n, r.q1, r.q3, r.iqr, r.n_out_low, r.n_out_high)
        for r in agg_iqr(spark, SF_DIR).collect()
    }
    assert got == expect


def test_agg_welch_matches_float_formula(spark):
    """The exact-rational t2_micro must agree with the textbook float
    Welch formula to within the 1-micro floor step, for every pair."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_welch

    t = Tables(spark, SF_DIR)
    vals: dict[str, list[int]] = {}
    for r in t.events.select("event_type", "value").collect():
        if r.value is not None:
            vals.setdefault(r.event_type, []).append(round(r.value * 100))
    import statistics

    got = {
        (r.type_a, r.type_b): r.t2_micro for r in agg_welch(spark, SF_DIR).collect()
    }
    assert got, "no pairs proves nothing"
    for (ta, tb), t2m in got.items():
        xa, xb = vals[ta], vals[tb]
        se2 = statistics.variance(xa) / len(xa) + statistics.variance(xb) / len(xb)
        t2 = (statistics.mean(xa) - statistics.mean(xb)) ** 2 / se2
        assert abs(t2m - t2 * 1e6) <= max(2, 1e-9 * t2 * 1e6), (ta, tb, t2m, t2)


def test_emb_project_matches_numpy_dot(spark):
    """Exact triangulation: score_micro2 equals the numpy int64 dot of
    the micro-integer vectors with emb-pca's emitted direction."""
    import math

    import numpy as np

    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import emb_pca, emb_project

    v = {r.dim: r.v_micro for r in emb_pca(spark, SF_DIR).collect()}
    vv = np.array([v[d] for d in sorted(v)], dtype=np.int64)
    got = {r.vec_id: r.score_micro2 for r in emb_project(spark, SF_DIR).collect()}
    assert got, "empty projection proves nothing"
    rows = Tables(spark, SF_DIR).embeddings.collect()
    for r in rows:
        if r.embedding is None:
            assert r.vec_id not in got
            continue
        x = np.array(
            [math.floor(float(c) * 1000000 + 0.5) for c in r.embedding],
            dtype=np.int64,
        )
        assert got[r.vec_id] == int(x @ vv)


def test_agg_mad_matches_python(spark):
    """Both rank selections against brute-force Python: lower median of
    the cents values, then lower median of absolute deviations."""
    from itdb_spark.catalog import Tables
    from itdb_spark.queries.pipeline import agg_mad

    t = Tables(spark, SF_DIR)
    vals: dict[str, list[int]] = {}
    for r in t.events.select("event_type", "value").collect():
        if r.value is not None:
            vals.setdefault(r.event_type, []).append(round(r.value * 100))
    expect = {}
    for et, xs in vals.items():
        xs = sorted(int(x) for x in xs)
        n = len(xs)
        m = xs[(n + 1) // 2 - 1]
        ds = sorted(abs(x - m) for x in xs)
        expect[et] = (n, m, ds[(n + 1) // 2 - 1])
    got = {
        r.event_type: (r.n, r.median_cents, r.mad_cents)
        for r in agg_mad(spark, SF_DIR).collect()
    }
    assert got == expect
