"""Property-based tests (hypothesis) for the pure numeric kernels —
no SparkSession needed, so these run fast and explore edge cases the
fixture tests can't (odd dimensions, extreme values, random content)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from elastic_asset_etl_poc_spark.operators.multimodal import (
    _decode_jpeg,
    _decode_png,
    _encode_jpeg_baseline,
    _encode_png_gray,
    _jpeg_end,
    _split_mjpeg,
)


@st.composite
def gray_images(draw, max_side=16):
    w = draw(st.integers(1, max_side))
    h = draw(st.integers(1, max_side))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


@settings(max_examples=12, deadline=None)
@given(img=gray_images(), color=st.booleans(), ri=st.integers(0, 3))
def test_jpeg_roundtrip_random_images(img, color, ri):
    """Any uint8 image survives encode→decode with exact dimensions and
    near-exact luma (all-2s quant ⇒ ≤ ±1 per coefficient), with or
    without restart intervals (DRI/RSTn resets exercised when ri > 0)."""
    b = _encode_jpeg_baseline(img, color_420=color, restart_interval=ri)
    w, h, plane = _decode_jpeg(b)
    assert (w, h) == (img.shape[1], img.shape[0])
    assert plane.shape == img.shape
    # per-pixel bound: quantization error over 64 coefficients
    assert float(np.abs(plane - img).max()) <= 16.0
    assert abs(float(plane.mean()) - float(img.mean())) <= 2.0


@settings(max_examples=12, deadline=None)
@given(img=gray_images(max_side=24))
def test_png_gray_roundtrip_lossless(img):
    """Grayscale PNG encode→decode is bit-lossless for any content."""
    w, h, back = _decode_png(_encode_png_gray(img.astype(np.float64)))
    assert (w, h) == (img.shape[1], img.shape[0])
    assert np.array_equal(back.astype(np.uint8), img)


@settings(max_examples=10, deadline=None)
@given(
    imgs=st.lists(gray_images(max_side=12), min_size=1, max_size=6),
    colors=st.lists(st.booleans(), min_size=6, max_size=6),
)
def test_mjpeg_split_recovers_every_frame(imgs, colors):
    """Concatenating any encoded frames and splitting recovers each frame
    byte-exactly (the structural walk never over/under-shoots an EOI)."""
    frames = [
        _encode_jpeg_baseline(img, color_420=c) for img, c in zip(imgs, colors)
    ]
    stream = b"".join(frames)
    out = _split_mjpeg(stream)
    assert out == frames
    # _jpeg_end is exact on each frame boundary
    pos = 0
    for f in frames:
        assert _jpeg_end(stream, pos) == pos + len(f)
        pos += len(f)


@settings(max_examples=15, deadline=None)
@given(
    img=gray_images(max_side=20),
    ow=st.integers(1, 24),
    oh=st.integers(1, 24),
)
def test_resample_preserves_global_mean(img, ow, oh):
    """The integral-image box filter preserves the global mean EXACTLY
    (up to float) for any input and any output geometry — uniform strip
    areas telescope to the total integral."""
    from elastic_asset_etl_poc_spark.operators.multimodal import _area_resample

    src = img.astype(np.float64)
    thumb = _area_resample(src, ow, oh)
    assert thumb.shape == (oh, ow)
    assert abs(float(thumb.mean()) - float(src.mean())) < 1e-9


@settings(max_examples=8, deadline=None)
@given(
    picks=st.lists(st.integers(0, 5), min_size=2, max_size=20),
    extras=st.lists(
        st.integers(-(1 << 63), (1 << 63) - 1), min_size=0, max_size=6
    ),
    k=st.integers(0, 4),
)
def test_banded_hamming_pairs_equals_exact_property(spark, picks, extras, k):
    """Property: the pre-collapsed banded Hamming join emits EXACTLY the
    all-pairs popcount<=k set, for corpora mixing clone clusters (values
    from a 6-element pool -> guaranteed identical fingerprints) with
    arbitrary 64-bit outliers, at every band layout k=0..4."""
    from elastic_asset_etl_poc_spark.operators.neardup import banded_hamming_pairs

    pool = [
        0x0123456789ABCDEF,
        0x0123456789ABCDE0,          # hamming 4 from pool[0]
        -0x7FEDCBA987654321,
        0x00000000FFFFFFFF,
        -1,
        1 << 62,
    ]
    fps = [pool[p] for p in picks] + extras
    rows = [(i, v) for i, v in enumerate(fps)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in banded_hamming_pairs(df, max_hamming=k).collect()
    }
    want = {}
    for a in range(len(fps)):
        for b in range(a + 1, len(fps)):
            h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if h <= k:
                want[(a, b)] = h
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 6),              # user
            st.integers(0, 99),             # second offset (ties allowed)
            st.sampled_from(["A", "B", "C", "X"]),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_funnel_fold_matches_reference_state_machine(spark, events):
    """Property: the aggregate-fold funnel equals a pure-Python strict-
    order state machine for arbitrary event sets — including ties (same
    timestamp never advances two steps) and empty users."""
    from datetime import datetime, timedelta

    from elastic_asset_etl_poc_spark.operators.temporal import funnel

    steps = ["A", "B", "C"]
    base = datetime(2024, 1, 1)
    rows = [
        (u, base + timedelta(seconds=sec), et) for u, sec, et in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {r.step_idx: r.n_users for r in funnel(df, steps).collect()}

    # reference: per user, sorted by (ts, type); step advances on the
    # next-step type strictly after the previous advance time
    per_user = {}
    for u, ts, et in rows:
        per_user.setdefault(u, []).append((ts, et))
    reached = {i: 0 for i in range(1, 4)}
    for evs in per_user.values():
        stage, last = 0, None
        for ts, et in sorted(evs):
            if stage < 3 and et == steps[stage] and (last is None or ts > last):
                stage += 1
                last = ts
        for i in range(1, stage + 1):
            reached[i] += 1
    if not rows or reached[1] == 0:
        # no step-1 entrants: pct denominator is empty -> operator may
        # emit zero-count rows; only the counts matter here
        assert got.get(1, 0) == 0
    else:
        assert {i: got[i] for i in (1, 2, 3)} == reached
    # monotone funnel: each stage loses users, never gains
    assert got.get(1, 0) >= got.get(2, 0) >= got.get(3, 0)


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=25,
    ),
    n_docs=st.integers(1, 15),
)
def test_cluster_split_never_splits_a_component(spark, edges, n_docs):
    """Property: for arbitrary near-dup pair graphs, every connected
    component lands wholly in ONE split (the leakage invariant), and the
    member set is exactly the input corpus."""
    from elastic_asset_etl_poc_spark.operators.sampling import cluster_split

    docs = spark.createDataFrame([(i,) for i in range(n_docs)], "doc_id long")
    pairs = [(a, b) for a, b in edges if a != b and a < n_docs and b < n_docs]
    pdf = spark.createDataFrame(pairs or [(0, 0)], "doc_a long, doc_b long")
    if not pairs:
        pdf = pdf.filter("doc_a <> doc_b")  # empty pair frame
    out = cluster_split(docs, pdf).collect()
    assert sorted(r.doc_id for r in out) == list(range(n_docs))

    # reference union-find
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    by_root = {}
    for r in out:
        by_root.setdefault(find(r.doc_id), set()).add((r.cluster, r.split))
    for root, combos in by_root.items():
        assert len(combos) == 1  # one (cluster, split) per component
        assert next(iter(combos))[0] == root  # representative is min id


@settings(max_examples=8, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 120), st.integers(0, 90)),
        min_size=0, max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 120), st.integers(0, 90)),
        min_size=0, max_size=12,
    ),
    bucket=st.sampled_from([7, 60, 333]),
)
def test_interval_join_equals_bruteforce_property(spark, lefts, rights, bucket):
    """Property: the bucketed interval join equals the brute-force
    overlap predicate for arbitrary interval sets (including zero-length
    and touching intervals) at any bucket width."""
    from datetime import datetime, timedelta

    from elastic_asset_etl_poc_spark.operators.temporal import interval_join

    t0 = datetime(2024, 1, 1)

    def mk(rows):
        return [
            (k, i, t0 + timedelta(seconds=s), t0 + timedelta(seconds=s + d))
            for i, (k, s, d) in enumerate(rows)
        ]

    lr, rr = mk(lefts), mk(rights)
    schema_l = "key int, lid int, start timestamp, end timestamp"
    schema_r = "key int, rid int, start timestamp, end timestamp"
    out = interval_join(
        spark.createDataFrame(lr, schema_l),
        spark.createDataFrame(rr, schema_r),
        on="key",
        bucket_seconds=bucket,
    )
    got = sorted((r["lid"], r["rid_r"]) for r in out.collect())
    want = sorted(
        (li, ri)
        for (lk, li, ls, le) in lr
        for (rk, ri, rs, re) in rr
        if lk == rk and ls <= re and rs <= le
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    old=st.dictionaries(
        st.integers(0, 9),
        st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.integers(0, 3))),
        max_size=8,
    ),
    new=st.dictionaries(
        st.integers(0, 9),
        st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.integers(0, 3))),
        max_size=8,
    ),
)
def test_snapshot_diff_equals_dict_diff_property(spark, old, new):
    """Property: snapshot_diff classification equals a reference dict
    diff for arbitrary keyed rows with NULLs."""
    from elastic_asset_etl_poc_spark.operators.diff import snapshot_diff

    def frame(d):
        return spark.createDataFrame(
            [(k, a, b) for k, (a, b) in d.items()] or [],
            "k int, a int, b int",
        )

    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = "added"
        elif k not in new:
            want[k] = "removed"
        elif old[k] != new[k]:
            want[k] = "changed"
    got = {
        r["k"]: r["change"]
        for r in snapshot_diff(frame(old), frame(new), keys=["k"]).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-50, 50)), min_size=1, max_size=20
    ),
    alpha_num=st.integers(1, 7),
    k=st.integers(1, 5),
)
def test_rolling_ewma_matches_reference_property(spark, vals, alpha_num, k):
    """Property: the unrolled lag-chain EWMA equals a pure-Python
    truncated-renormalized reference for arbitrary series with NULLs."""
    from elastic_asset_etl_poc_spark.operators.temporal import rolling_ewma

    alpha = alpha_num / 8.0
    rows = [("g", i, None if v is None else float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, i int, v double")
    got = {
        r["i"]: r["ewma"]
        for r in rolling_ewma(
            df, "v", keys=["g"], order_by=["i"], alpha=alpha, k=k
        ).collect()
    }
    for i, v in enumerate(vals):
        if v is None:
            assert got[i] is None
            continue
        num = alpha * v
        den = alpha
        for j in range(1, k):
            if i - j < 0:
                continue
            lj = vals[i - j]
            if lj is None:
                continue
            w = alpha * (1 - alpha) ** j
            num += w * lj
            den += w
        assert abs(got[i] - num / den) < 1e-9, (i, vals)


@settings(max_examples=8, deadline=None)
@given(
    old=st.dictionaries(st.integers(0, 9), st.integers(0, 5), max_size=8),
    new=st.dictionaries(st.integers(0, 9), st.integers(0, 5), max_size=8),
)
def test_apply_cdc_roundtrip_property(spark, old, new):
    """Property: for ANY keyed old/new pair, applying the change stream
    derived from snapshot_diff reproduces `new` exactly — the
    diff→merge identity that makes the pair an incremental-recompute
    loop."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.diff import (
        apply_cdc,
        snapshot_diff,
    )

    def frame(d):
        return spark.createDataFrame(
            [(k, v) for k, v in d.items()] or [], "k int, v int"
        )

    fo, fn = frame(old), frame(new)
    d = snapshot_diff(fo, fn, keys=["k"])
    iu = (
        d.filter(F.col("change") != "removed")
        .join(fn, "k")
        .select("k", "v", F.lit("U").alias("op"), F.lit(1).alias("seq"))
    )
    dels = (
        d.filter(F.col("change") == "removed")
        .join(fo, "k")
        .select("k", "v", F.lit("D").alias("op"), F.lit(1).alias("seq"))
    )
    got = {
        r.k: r.v
        for r in apply_cdc(fo, iu.unionByName(dels), ["k"]).collect()
    }
    assert got == new


@settings(max_examples=8, deadline=None)
@given(
    weights=st.lists(
        st.one_of(st.none(), st.floats(-1.0, 5.0, allow_nan=False)),
        min_size=0,
        max_size=12,
    ),
    k=st.integers(1, 6),
)
def test_weighted_topk_size_and_rank_property(spark, weights, k):
    """Property: output size is exactly min(k, #rows with weight > 0)
    and sample_rank is a dense 1..size permutation."""
    from elastic_asset_etl_poc_spark.operators.sampling import weighted_topk

    df = spark.createDataFrame(
        [(f"d{i}", w) for i, w in enumerate(weights)] or [],
        "doc_id string, w double",
    )
    out = weighted_topk(df, k=k, weight_col="w").collect()
    eligible = sum(1 for w in weights if w is not None and w > 0)
    assert len(out) == min(k, eligible)
    assert sorted(r.sample_rank for r in out) == list(range(1, len(out) + 1))


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=8), min_size=2, max_size=8
    ),
    max_dist=st.integers(0, 3),
)
def test_blocked_fuzzy_join_best_subset_of_all_property(spark, texts, max_dist):
    """Property: keep='best' is one row per matched dirty id, always a
    subset of keep='all', and every reported dist respects the radius."""
    from elastic_asset_etl_poc_spark.operators.linkage import (
        blocked_fuzzy_join,
    )

    dirty = spark.createDataFrame(
        [(f"d{i}", "b", t) for i, t in enumerate(texts)],
        "did string, blk string, txt string",
    )
    clean = spark.createDataFrame(
        [(f"c{i}", "b", t) for i, t in enumerate(reversed(texts))],
        "cid string, blk string, ctxt string",
    )
    allm = blocked_fuzzy_join(
        dirty, clean, ["blk"], "txt", "ctxt", "did", "cid",
        max_dist=max_dist, keep="all",
    ).collect()
    best = blocked_fuzzy_join(
        dirty, clean, ["blk"], "txt", "ctxt", "did", "cid",
        max_dist=max_dist, keep="best",
    ).collect()
    all_pairs = {(r.did, r.cid, r.dist) for r in allm}
    best_pairs = {(r.did, r.cid, r.dist) for r in best}
    assert best_pairs <= all_pairs
    assert len({r.did for r in best}) == len(best)  # one per dirty id
    assert {r.did for r in best} == {r.did for r in allm}
    assert all(r.dist <= max_dist for r in allm)


@settings(max_examples=10, deadline=None)
@given(
    offsets=st.lists(
        st.integers(0, 10 * 1_800_000_000),  # µs offsets in [0, 10 gaps]
        min_size=1,
        max_size=25,
    ),
    users=st.lists(st.integers(1, 3), min_size=1, max_size=25),
)
def test_session_window_equals_gap_split_property(spark, offsets, users):
    """Property: F.session_window(gap=30min) produces EXACTLY the
    sessions of the strict-gap split (new session iff µs diff from the
    previous event of the same user is > gap) — the semantics the
    DuckDB oracle of session_window_events replays, including
    duplicate timestamps and exactly-gap boundaries (the generator
    draws multiples of odd µs offsets so both land often)."""
    from pyspark.sql import functions as F

    n = min(len(offsets), len(users))
    base = 1_700_000_000_000_000  # µs epoch
    rows = [(i, users[i], base + offsets[i]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id int, user_id int, us long"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"))
    got = {
        (r.user_id, str(r.sw.start), str(r.sw.end), r.n)
        for r in df.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # reference: strict-gap split at µs grain, per user
    GAP = 1_800_000_000
    want = set()
    per_user: dict[int, list[int]] = {}
    for _, u, us in rows:
        per_user.setdefault(u, []).append(us)
    import datetime

    def fmt(us):
        dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=us
        )
        return str(dt)

    for u, times in per_user.items():
        times.sort()
        sess = [[times[0]]]
        for t in times[1:]:
            if t - sess[-1][-1] > GAP:
                sess.append([t])
            else:
                sess[-1].append(t)
        for s in sess:
            want.add((u, fmt(s[0]), fmt(s[-1] + GAP), len(s)))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=25,
    ),
    n_nodes=st.integers(1, 15),
)
def test_dedup_survivors_equals_union_find_property(spark, edges, n_nodes):
    """Property: dedup_survivors' clustering equals a reference
    union-find on BOTH execution paths (driver fast path and distributed
    min-label propagation), for arbitrary IN-UNIVERSE edge sets (the
    operator's contract: pairs are produced from the record frame)
    including self-loops, duplicate edges, chains, and isolated
    nodes."""
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    nodes = list(range(n_nodes))
    node_set = set(nodes)
    # fold drawn endpoints into the universe (contract: in-universe pairs)
    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]
    df = spark.createDataFrame([(n,) for n in nodes], "doc_id int")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "a int, b int"  # self-loop dummy for empty draw
    )
    # reference union-find over the record universe only
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    want = {n: find(n) for n in nodes}

    for limit in (1_000_000, 0):
        got = {
            r.doc_id: (r.cluster, r.is_survivor)
            for r in dedup_survivors(
                df, pairs, id_col="doc_id", driver_limit=limit
            ).collect()
            if r.doc_id in node_set
        }
        assert got == {
            n: (want[n], want[n] == n) for n in nodes
        }, f"driver_limit={limit}"


@settings(max_examples=8, deadline=None)
@given(
    old_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 5)),
        min_size=0, max_size=15, unique_by=lambda t: t[0],
    ),
    new_rows=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 5)),
        min_size=0, max_size=15, unique_by=lambda t: t[0],
    ),
)
def test_snapshot_diff_apply_cdc_roundtrip_property(spark, old_rows, new_rows):
    """Property: apply_cdc(old, changes_of(old, new)) == new for ARBITRARY
    snapshot pairs — adds, drops, value changes, disjoint key sets, and
    both empties.  The diff→apply loop is its own oracle (the identity
    the suite's apply_cdc_orders query pins on one fixture; this pins it
    on random ones)."""
    from pyspark.sql import functions as F

    from elastic_asset_etl_poc_spark.operators.diff import (
        apply_cdc,
        snapshot_diff,
    )

    old = spark.createDataFrame(old_rows or [(99, 0)], "k int, v int")
    new = spark.createDataFrame(new_rows or [(98, 0)], "k int, v int")
    d = snapshot_diff(old, new, keys=["k"], compare_cols=["v"])
    iu = (
        d.filter(F.col("change") != "removed")
        .join(new, "k")
        .selectExpr(
            "k", "v",
            "CASE WHEN change = 'added' THEN 'I' ELSE 'U' END AS op",
            "1 AS seq",
        )
    )
    dels = (
        d.filter(F.col("change") == "removed")
        .join(old, "k")
        .selectExpr("k", "v", "'D' AS op", "1 AS seq")
    )
    got = {
        (r.k, r.v)
        for r in apply_cdc(old, iu.unionByName(dels), keys=["k"]).collect()
    }
    want = {(k, v) for k, v in (new_rows or [(98, 0)])}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=20,
    ),
    max_tokens=st.integers(1, 16),
    n_shards=st.integers(1, 4),
)
def test_pack_sequences_matches_reference_property(
    spark, texts, max_tokens, n_shards
):
    """Property: pack_sequences' offsets and sequence ids equal a pure-
    Python per-shard cumulative packer for arbitrary whitespace corpora
    (empty docs, runs of spaces, tiny max_tokens forcing every doc to
    straddle cuts) at several shard counts."""
    from elastic_asset_etl_poc_spark.operators.sampling import pack_sequences

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.shard, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in pack_sequences(
            df, max_tokens=max_tokens, n_shards=n_shards
        ).collect()
    }

    def ntok(t):
        # the operator's contract is split-on-single-space SEGMENTS
        # (text.tokens = F.split(c, " ")): '' -> 1 segment, 'a  b' -> 3
        return len(t.split(" "))

    want = {}
    offsets = {s: 0 for s in range(n_shards)}
    for i, t in sorted(rows):
        s = i % n_shards
        n = ntok(t)
        start = offsets[s]
        end = start + n
        offsets[s] = end
        want[i] = (
            s,
            n,
            start,
            s * 1_000_000_000 + start // max_tokens,
            s * 1_000_000_000 + max(end - 1, start) // max_tokens,
        )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=25,
    ),
    n_nodes=st.integers(1, 15),
    n_standing=st.integers(0, 15),
)
def test_entity_clusters_incremental_equals_full_recompute(
    spark, edges, n_nodes, n_standing
):
    """Property: folding a batch into a standing min-label clustering
    with entity_clusters_incremental yields EXACTLY the clustering a
    full dedup_survivors recompute over (all nodes, all edges) gives —
    for arbitrary graphs and arbitrary standing/batch splits, including
    batch edges that MERGE multiple standing clusters, standing↔standing
    late edges, batch-only components, and edgeless batch singletons.
    The standing state is itself built by dedup_survivors on the
    standing subgraph (standing-internal edges only); every edge with a
    batch endpoint is the delta."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    from elastic_asset_etl_poc_spark.operators.linkage import (
        entity_clusters_incremental,
    )
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    nodes = list(range(n_nodes))
    standing = set(nodes[: min(n_standing, n_nodes)])
    batch = [n for n in nodes if n not in standing]
    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]
    s_edges = [(a, b) for a, b in edges if a in standing and b in standing]
    d_edges = [(a, b) for a, b in edges if a not in standing or b not in standing]

    # full recompute = the reference
    full = {
        r.rid: (r.cluster, r.is_survivor)
        for r in dedup_survivors(
            spark.createDataFrame([(n,) for n in nodes], "rid int"),
            spark.createDataFrame(edges or [(0, 0)], "a int, b int"),
            id_col="rid",
        ).collect()
        if r.rid in set(nodes)
    }

    if standing:
        s0 = min(standing)  # in-universe self-loop dummy for an empty draw
        assignments = dedup_survivors(
            spark.createDataFrame([(n,) for n in standing], "rid int"),
            spark.createDataFrame(s_edges or [(s0, s0)], "a int, b int"),
            id_col="rid",
        ).select("rid", "cluster")
    else:
        assignments = spark.createDataFrame([], "rid int, cluster int")
    inc = entity_clusters_incremental(
        assignments,
        spark.createDataFrame([(n,) for n in batch], "rid int"),
        spark.createDataFrame(
            d_edges or [(nodes[0], nodes[0])], "a int, b int"
        ),
        id_col="rid",
    )
    got = {r.rid: (r.cluster, r.is_survivor) for r in inc.collect()}
    assert got == full


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=20,
    ),
    n_nodes=st.integers(1, 12),
    arrival=st.lists(st.integers(0, 2), min_size=12, max_size=12),
)
def test_entity_clusters_incremental_fold_is_associative(
    spark, edges, n_nodes, arrival
):
    """Property behind the STREAMING twin: folding records in ANY number
    of installments gives the full-recompute clustering.  Nodes get a
    random arrival wave (0 = standing, 1..2 = micro-batches); each edge
    arrives with its LATEST endpoint (exactly what a streaming edge_fn
    can see: edges incident to records that have arrived).  Wave 0 is
    clustered with dedup_survivors, then waves 1 and 2 fold in
    sequentially — covering batch→earlier-batch edges, merges of
    clusters created by a PREVIOUS fold, and empty waves."""
    from elastic_asset_etl_poc_spark.operators.linkage import (
        entity_clusters_incremental,
    )
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    nodes = list(range(n_nodes))
    wave = {n: arrival[n] for n in nodes}
    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]

    full = {
        r.rid: r.cluster
        for r in dedup_survivors(
            spark.createDataFrame([(n,) for n in nodes], "rid int"),
            spark.createDataFrame(edges or [(0, 0)], "a int, b int"),
            id_col="rid",
        ).collect()
        if r.rid in set(nodes)
    }

    standing = [n for n in nodes if wave[n] == 0]
    s_edges = [(a, b) for a, b in edges if wave[a] == 0 and wave[b] == 0]
    if standing:
        s0 = min(standing)
        state = dedup_survivors(
            spark.createDataFrame([(n,) for n in standing], "rid int"),
            spark.createDataFrame(s_edges or [(s0, s0)], "a int, b int"),
            id_col="rid",
        ).select("rid", "cluster")
    else:
        state = spark.createDataFrame([], "rid int, cluster int")

    for w in (1, 2):
        batch = [n for n in nodes if wave[n] == w]
        w_edges = [
            (a, b) for a, b in edges if max(wave[a], wave[b]) == w
        ]
        anchor = batch[0] if batch else (standing[0] if standing else 0)
        state = entity_clusters_incremental(
            state,
            spark.createDataFrame([(n,) for n in batch], "rid int"),
            spark.createDataFrame(
                w_edges or [(anchor, anchor)], "a int, b int"
            ),
            id_col="rid",
        ).select("rid", "cluster")

    got = {r.rid: r.cluster for r in state.collect()}
    assert got == full


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),                      # f1 agreement
            st.one_of(st.none(), st.booleans()),  # f2 agreement (nullable)
            st.booleans(),                      # labeled match?
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fs_linkage_weights_matches_reference(spark, rows):
    """Property: fs_linkage_weights equals a pure-Python Fellegi–Sunter
    reference for arbitrary agreement patterns — including NULL
    agreements (count as disagreement everywhere), an empty labeled-match
    class, an empty non-match class (both → uninformative 0.5 before
    clamping), and fields that never disagree (clamp keeps the
    disagreement weight finite)."""
    import math

    from elastic_asset_etl_poc_spark.operators.linkage import (
        fs_linkage_weights,
    )

    df = spark.createDataFrame(
        [(i, a, b, t) for i, (a, b, t) in enumerate(rows)],
        "pair_id int, f1 boolean, f2 boolean, is_true boolean",
    )
    got = {
        r.pair_id: r.score
        for r in fs_linkage_weights(df, ["f1", "f2"], "is_true").collect()
    }

    def clamped(vals):
        if not vals:
            return 0.5
        return min(max(sum(vals) / len(vals), 0.01), 0.99)

    norm = [(a, bool(b), t) for a, b, t in rows]  # None → disagree
    stats = {}
    for fi in (0, 1):
        m = clamped([float(r[fi]) for r in norm if r[2]])
        u = clamped([float(r[fi]) for r in norm if not r[2]])
        stats[fi] = (m, u)
    for i, r in enumerate(norm):
        want = 0.0
        for fi in (0, 1):
            m, u = stats[fi]
            want += (
                math.log2(m / u) if r[fi] else math.log2((1 - m) / (1 - u))
            )
        assert abs(got[i] - want) < 1e-9, (i, got[i], want)


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=25,
    ),
    n_nodes=st.integers(1, 15),
    n_standing=st.integers(1, 15),
)
def test_entity_clusters_changed_emit_is_exact_upsert_set(
    spark, edges, n_nodes, n_standing
):
    """Property: emit='changed' returns EXACTLY the upsert set — applying
    it over the old assignments (new keys inserted, changed keys
    replaced, everything else untouched) reproduces emit='all', and no
    returned standing row carries an unchanged label (a bloated upsert
    set would silently rewrite the corpus)."""
    from elastic_asset_etl_poc_spark.operators.linkage import (
        entity_clusters_incremental,
    )
    from elastic_asset_etl_poc_spark.operators.neardup import dedup_survivors

    nodes = list(range(n_nodes))
    standing = set(nodes[: min(n_standing, n_nodes)])
    batch = [n for n in nodes if n not in standing]
    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]
    s_edges = [(a, b) for a, b in edges if a in standing and b in standing]
    d_edges = [
        (a, b) for a, b in edges if a not in standing or b not in standing
    ]
    s0 = min(standing)
    assignments = dedup_survivors(
        spark.createDataFrame([(n,) for n in standing], "rid int"),
        spark.createDataFrame(s_edges or [(s0, s0)], "a int, b int"),
        id_col="rid",
    ).select("rid", "cluster")
    args = (
        assignments,
        spark.createDataFrame([(n,) for n in batch], "rid int"),
        spark.createDataFrame(d_edges or [(s0, s0)], "a int, b int"),
    )
    full = {
        r.rid: r.cluster
        for r in entity_clusters_incremental(*args, id_col="rid").collect()
    }
    changed = {
        r.rid: r.cluster
        for r in entity_clusters_incremental(
            *args, id_col="rid", emit="changed"
        ).collect()
    }
    old = {r.rid: r.cluster for r in assignments.collect()}
    # upsert reproduces the full result...
    applied = dict(old)
    applied.update(changed)
    assert applied == full
    # ...and the set is tight: every standing row it returns truly moved
    for rid, cl in changed.items():
        if rid in old:
            assert old[rid] != cl, (rid, cl)


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)),
        min_size=0,
        max_size=30,
    ),
)
def test_star_cc_equals_union_find_property(spark, edges):
    """Property: connected_components_star's labeling equals a reference
    union-find for arbitrary edge sets — self-loops, duplicates, chains
    (the long-diameter case star contraction exists to kill), cliques.
    Nodes absent from the edge list are out of scope by contract (the
    caller joins back); the comparison covers every edge endpoint."""
    from elastic_asset_etl_poc_spark.operators.graph import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        edges or [(0, 0)], "a int, b int"
    )
    got = {
        r.node: r.component
        for r in connected_components_star(pairs).collect()
    }
    touched = sorted({x for e in edges for x in e if e[0] != e[1]})
    parent = {n: n for n in touched}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    want = {n: find(n) for n in touched}
    assert got == want


def test_star_cc_long_chain_converges(spark):
    """A 64-node path graph: diameter 63, the worst case for one-hop
    label propagation — star contraction must label it in ≤ 20
    alternating rounds (O(log n))."""
    from elastic_asset_etl_poc_spark.operators.graph import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(63)]
    got = {
        r.node: r.component
        for r in connected_components_star(
            spark.createDataFrame(chain, "a int, b int")
        ).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_star_cc_raises_past_round_bound(spark):
    """A chain that star contraction cannot finish in one round must
    RAISE at max_iter=1, not return a partly contracted labeling."""
    import pytest

    from elastic_asset_etl_poc_spark.operators.graph import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(63)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(
            spark.createDataFrame(chain, "a int, b int"), max_iter=1
        )


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_equals_bruteforce_dominance(spark, pts):
    """skyline_2d's window formulation == the O(n^2) dominance
    definition on random integer point sets (heavy duplicate/tie
    pressure from the small domain)."""
    import pyspark.sql.functions as F

    from elastic_asset_etl_poc_spark.operators.profile import skyline_2d

    df = spark.createDataFrame(
        [(float(p), s) for p, s in pts], ["price", "size"]
    )
    got = {
        (r["price"], r["size"]): r["n_dup"]
        for r in skyline_2d(df, "price", "size").collect()
    }
    # brute force: a point survives iff nothing dominates it
    from collections import Counter

    cnt = Counter((float(p), s) for p, s in pts)
    expect = {}
    for (p, s), c in cnt.items():
        dominated = any(
            (q <= p and t >= s and (q < p or t > s)) for (q, t) in cnt
        )
        if not dominated:
            expect[(p, s)] = c
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(st.integers(0, 6), min_size=3, max_size=50),
    ys_seed=st.integers(0, 2**31 - 1),
)
def test_spearman_matches_numpy_rank_pearson(spark, xs, ys_seed):
    """spearman_corr == Pearson on scipy-style average ranks, computed
    by hand with numpy on random (tie-heavy) data."""
    import numpy as np

    from elastic_asset_etl_poc_spark.operators.stats import spearman_corr

    rng = np.random.default_rng(ys_seed)
    ys = rng.integers(0, 6, size=len(xs))
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], ["x", "y"]
    )
    r = spearman_corr(df, "x", "y").collect()[0]["rho"]

    def avg_ranks(v):
        v = np.asarray(v, dtype=float)
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        i = 0
        sv = v[order]
        while i < len(v):
            j = i
            while j + 1 < len(v) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
            i = j + 1
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    den = np.sqrt(((rx - rx.mean()) ** 2).sum()) * np.sqrt(
        ((ry - ry.mean()) ** 2).sum()
    )
    if den == 0:
        assert r is None
    else:
        expect = float(((rx - rx.mean()) * (ry - ry.mean())).sum() / den)
        assert abs(r - expect) < 1e-9


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=10),
        min_size=2,
        max_size=12,
    ),
    thr_pct=st.sampled_from([50, 60, 75]),
)
def test_prefix_filter_lossless_property(spark, docs, thr_pct):
    """Prefix filtering == the full inverted-index join on random short
    corpora across thresholds — the zero-false-negative pigeonhole
    guarantee under tie-heavy token distributions."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        jaccard_pairs,
        prefix_filter_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = thr_pct / 100.0
    pf = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_pairs(df, threshold=t, n=2).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, threshold=t, n=2, max_doc_freq=None).collect()
    }
    assert pf == exact


@settings(max_examples=8, deadline=None)
@given(
    edge_picks=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(2, 4),
)
def test_kcore_equals_bruteforce_peel(spark, edge_picks, k):
    """kcore_membership == a python reference peel on random graphs."""
    from elastic_asset_etl_poc_spark.operators.graph import kcore_membership

    und = {(min(a, b), max(a, b)) for a, b in edge_picks if a != b}
    if not und:
        return
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in und], ["src", "dst"]
    )
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_membership(edges, k=k, max_rounds=30).collect()
    }
    # reference peel
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    expect = {str(n): len(vs) for n, vs in adj.items() if vs}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    keys=st.lists(st.integers(0, 100_000), min_size=1, max_size=400),
    cut=st.integers(0, 100_000),
    k=st.sampled_from([16, 64, 256]),
)
def test_kmv_merge_property(spark, keys, cut, k):
    """Mergeability over RANDOM overlapping splits: the raw key list is
    split by POSITION (not value), so a key appearing twice can land in
    BOTH batches — the overlapping-ingest case.  Sketch each batch,
    kmv_merge them, and the result must be row-identical to sketching
    the whole multiset — for any key multiset, any split point, any k.
    bottom-k(dedup(bottom-k(A) ∪ bottom-k(B))) ≡ bottom-k(A ∪ B) is
    the algebra the incremental certificate (kmv_incremental_sources)
    rides on; within-batch duplicates also exercise kmv_sketch's own
    hash dedup (dense_rank + distinct)."""
    from elastic_asset_etl_poc_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    whole = spark.createDataFrame([("S", x) for x in keys], ["s", "k"])
    i = cut % (len(keys) + 1)
    lo = keys[:i]
    hi = keys[i:]
    parts = []
    if lo:
        parts.append(kmv_sketch(
            spark.createDataFrame([("S", x) for x in lo], ["s", "k"]),
            "s", "k", k=k,
        ))
    if hi:
        parts.append(kmv_sketch(
            spark.createDataFrame([("S", x) for x in hi], ["s", "k"]),
            "s", "k", k=k,
        ))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = {(r.set_id, r.h) for r in kmv_merge(u, k=k).collect()}
    direct = {
        (r.set_id, r.h) for r in kmv_sketch(whole, "s", "k", k=k).collect()
    }
    assert merged == direct


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=10),
        min_size=2,
        max_size=12,
    ),
    thr_pct=st.sampled_from([50, 60, 75]),
)
def test_containment_prefix_lossless_property(spark, docs, thr_pct):
    """Containment-adapted prefix filtering == the full inverted-index
    containment join on random short corpora — the ASYMMETRIC
    pigeonhole (smaller set's prefix vs the other set's FULL postings)
    has zero false negatives under tie-heavy token distributions and
    size-mismatched pairs, and the (containment, jaccard) payload is
    bit-identical."""
    from elastic_asset_etl_poc_spark.operators.neardup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = thr_pct / 100.0
    pf = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_prefix_pairs(
            df, threshold=t, n=2, max_doc_freq=None
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): (r["containment"], r["jaccard"])
        for r in containment_pairs(
            df, threshold=t, n=2, max_doc_freq=None
        ).collect()
    }
    assert pf == exact
