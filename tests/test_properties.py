"""Property-based tests (hypothesis): operator invariants that must
hold for arbitrary inputs, checked against simple Python references."""

from __future__ import annotations

from datetime import datetime, timedelta
from pathlib import Path

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

# one Spark job per example is slow — keep examples modest but varied
SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

words = st.text(alphabet="abcdef ", min_size=0, max_size=40)


@given(texts=st.lists(words, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_fingerprint_invariant_under_shuffle_and_case(spark, texts):
    """fingerprint(text) == fingerprint(shuffled upper-cased tokens)."""
    from iot_simulator_datalake_spark.functions.text import fingerprint
    rows = []
    for i, t in enumerate(texts):
        toks = t.split()
        rows.append((i, t, " ".join(reversed([w.upper() for w in toks]))))
    df = spark.createDataFrame(rows, ["i", "a", "b"])
    bad = df.filter(
        fingerprint(F.col("a")) != fingerprint(F.col("b"))).count()
    assert bad == 0


@given(vals=st.lists(
    st.tuples(st.sampled_from("abc"), st.integers(0, 10_000)),
    min_size=1, max_size=50))
@settings(**SETTINGS)
def test_window_dedup_matches_python_reference(spark, vals):
    from iot_simulator_datalake_spark.operators import window_dedup
    rows = [(k, v, i) for i, (k, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "v", "seq"])
    out = {(r["k"], r["seq"]) for r in window_dedup(
        df, ["k"], [F.col("v").desc(), F.col("seq").desc()]).collect()}
    expected = {}
    for k, v, i in rows:
        if k not in expected or (v, i) > expected[k]:
            expected[k] = (v, i)
    assert out == {(k, i) for k, (v, i) in expected.items()}


@given(events=st.lists(st.integers(0, 10_000), min_size=1, max_size=40),
       gap_min=st.integers(1, 120))
@settings(**SETTINGS)
def test_sessionization_matches_python_reference(spark, events, gap_min):
    """Session assignment (gap > g ⇒ new session) vs a direct fold."""
    base = datetime(2024, 1, 1)
    rows = [(1, base + timedelta(minutes=m), i)
            for i, m in enumerate(sorted(events))]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])

    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap_us.isNull() |
                   (gap_us > gap_min * 60 * 1_000_000), 1).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, 0)
    got = [r["sid"] for r in
           df.withColumn("sid", F.sum(new_s).over(run))
           .orderBy("ts", "event_id").collect()]

    expected, sid, prev = [], 0, None
    for m in sorted(events):
        if prev is None or (m - prev) > gap_min:
            sid += 1
        expected.append(sid)
        prev = m
    assert got == expected


@given(changes=st.lists(
    st.tuples(st.sampled_from("xyz"), st.integers(0, 100),
              st.booleans()),
    min_size=1, max_size=30))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scd1_matches_python_reference(spark, changes):
    from iot_simulator_datalake_spark.operators import scd1_current
    base = datetime(2024, 1, 1)
    rows = [(k, base + timedelta(hours=ts), i, d)
            for i, (k, ts, d) in enumerate(changes)]
    df = spark.createDataFrame(rows, ["id", "op_ts", "seq", "_is_deleted"])
    got = {r["id"]: r["seq"] for r in
           scd1_current(df, key="id", tiebreak="seq").collect()}
    latest: dict = {}
    for k, ts, i, d in rows:
        if k not in latest or (ts, i) > latest[k][:2]:
            latest[k] = (ts, i, d)
    expected = {k: i for k, (ts, i, d) in latest.items() if not d}
    assert got == expected


@given(events=st.lists(
    st.tuples(st.sampled_from("ab"), st.integers(0, 120)),
    min_size=1, max_size=40))
@settings(**SETTINGS)
def test_interval_merge_matches_python_reference(spark, events):
    """Gaps-and-islands merge over [t, t+10] intervals == sweep-line
    Python reference: islands are disjoint, cover every event, and
    carry exact (start, end, count)."""
    width = 10
    rows = [(u, i, t, t + width) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "s", "e"])

    from pyspark.sql import Window as W
    ordered = W.partitionBy("user_id").orderBy("s", "event_id")
    prior = ordered.rowsBetween(W.unboundedPreceding, -1)
    prev_max = F.max("e").over(prior)
    flagged = df.withColumn(
        "ni", F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
               .otherwise(0))
    run = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    out = (flagged.withColumn("island", F.sum("ni").over(run))
           .groupBy("user_id", "island")
           .agg(F.min("s").alias("start"), F.max("e").alias("end"),
                F.count(F.lit(1)).alias("n"))
           .collect())
    got = {(r["user_id"], r["start"], r["end"], r["n"]) for r in out}

    expected = set()
    for u in set(e[0] for e in events):
        ts = sorted(t for (uu, t) in events if uu == u)
        cur_s, cur_e, cur_n = None, None, 0
        for t in ts:
            if cur_s is None or t > cur_e:
                if cur_s is not None:
                    expected.add((u, cur_s, cur_e, cur_n))
                cur_s, cur_e, cur_n = t, t + width, 1
            else:
                cur_e, cur_n = max(cur_e, t + width), cur_n + 1
        expected.add((u, cur_s, cur_e, cur_n))
    assert got == expected


@given(texts=st.lists(st.text(alphabet="ab cd", min_size=0, max_size=25),
                      min_size=2, max_size=14))
@settings(**SETTINGS)
def test_simhash_banding_recall_equals_bruteforce(spark, texts):
    """Fingerprint-banding pair join == brute-force all-pairs popcount
    (the pigeonhole recall guarantee, on arbitrary corpora including
    heavy exact-dup families)."""
    from iot_simulator_datalake_spark.operators.dedup import (
        simhash, simhash_hamming_pair_join)
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    sh = simhash(df, "text", "doc_id")
    got = {(r["key_a"], r["key_b"], r["hamming"])
           for r in simhash_hamming_pair_join(sh).collect()}
    fps = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    expected = set()
    for a in fps:
        for b in fps:
            if a < b:
                h = bin(fps[a] ^ fps[b]).count("1")
                if h <= 3:
                    expected.add((a, b, h))
    assert got == expected


@given(tgt=st.lists(st.tuples(st.integers(0, 15), st.integers(-50, 50)),
                    min_size=0, max_size=12, unique_by=lambda t: t[0]),
       src=st.lists(st.tuples(st.integers(0, 15), st.integers(-50, 50)),
                    min_size=0, max_size=12, unique_by=lambda t: t[0]),
       upd_thr=st.integers(-20, 20), del_thr=st.integers(-40, 0))
@settings(**SETTINGS)
def test_merge_into_matches_python_reference(spark, tgt, src,
                                             upd_thr, del_thr):
    """merge_into == the clause-ordered Python MERGE semantics for
    arbitrary key overlap and condition interleavings (delete checked
    before update; unmatched source inserts when positive)."""
    from iot_simulator_datalake_spark.operators.merge import merge_into
    t = spark.createDataFrame(tgt or [(99, 0)], "k int, v int")
    if not tgt:
        t = t.filter("k < 0")  # empty with schema
    s = spark.createDataFrame(src or [(99, 0)], "k int, d int")
    if not src:
        s = s.filter("k < 0")
    out = merge_into(
        t, s, "k",
        update_set={"v": F.expr("t.v + s.d")},
        update_cond=F.col("s.d") >= upd_thr,
        delete_cond=F.col("s.d") < del_thr,
        insert_values={"k": F.col("s.k"), "v": F.col("s.d")},
        insert_cond=F.col("s.d") > 0)
    got = {r["k"]: r["v"] for r in out.collect()}
    tm, sm = dict(tgt), dict(src)
    want = {}
    for k, v in tm.items():
        if k in sm:
            d = sm[k]
            if d < del_thr:
                continue                      # WHEN MATCHED ... DELETE
            want[k] = v + d if d >= upd_thr else v
        else:
            want[k] = v                       # untouched target
    for k, d in sm.items():
        if k not in tm and d > 0:
            want[k] = d                       # WHEN NOT MATCHED INSERT
    assert got == want


@given(vals=st.lists(st.tuples(st.integers(0, 500), st.integers(1, 20)),
                     min_size=1, max_size=60))
@settings(**SETTINGS)
def test_weighted_median_histogram_matches_python(spark, vals):
    """The histogram + integer cross-multiplied rank test reproduces
    the direct weighted-median definition on arbitrary multisets."""
    from pyspark.sql import Window as W
    df = spark.createDataFrame([(v, w) for v, w in vals], "v long, w long")
    h = df.groupBy("v").agg(F.sum("w").alias("wc"))
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = h.select("v", F.sum("wc").over(wcum).alias("cumw"),
                 F.sum("wc").over(W.partitionBy()).alias("totw"))
    got = (c.filter(2 * F.col("cumw") >= F.col("totw"))
           .agg(F.min("v")).collect()[0][0])
    # python reference: smallest v with cumulative weight ≥ half
    tot = sum(w for _, w in vals)
    cum = 0
    want = None
    for v in sorted({v for v, _ in vals}):
        cum += sum(w for x, w in vals if x == v)
        if 2 * cum >= tot:
            want = v
            break
    assert got == want


@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=80))
@settings(**SETTINGS)
def test_interpolated_median_doubled_units_matches_python(spark, vals):
    from pyspark.sql import Window as W
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    h = df.groupBy("v").agg(F.count("*").alias("c"))
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = h.select("v", F.sum("c").over(wcum).alias("cum"),
                 F.sum("c").over(W.partitionBy()).alias("n"))
    got = (c.selectExpr(
        "min(CASE WHEN cum >= (n + 1) div 2 THEN v END) + "
        "min(CASE WHEN cum >= (n + 2) div 2 THEN v END) AS m2")
        .collect()[0]["m2"])
    s = sorted(vals)
    n = len(s)
    want = s[(n - 1) // 2] + s[n // 2]
    assert got == want


@given(runs=st.lists(
    st.dictionaries(st.integers(0, 4),                  # key → (val, day)
                    st.tuples(st.sampled_from("xyz"), st.integers(0, 30)),
                    min_size=1, max_size=5),
    min_size=1, max_size=3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snapshot_table_matches_python_reference(spark, tmp_path_factory,
                                                 runs):
    """SnapshotTable (timestamp strategy) == a pure-Python dbt-snapshot
    model over arbitrary run sequences: same open/closed versions, same
    validity windows (monotone updated_at per key enforced by
    construction, as the strategy requires)."""
    from iot_simulator_datalake_spark.operators.scd import SnapshotTable

    base = datetime(2024, 1, 1)
    # enforce per-key nondecreasing updated_at across runs (the
    # timestamp strategy's documented precondition)
    seen: dict[int, int] = {}
    cleaned = []
    for st_run in runs:
        r = {}
        for k, (v, d) in st_run.items():
            d = max(d, seen.get(k, 0))
            seen[k] = d
            r[k] = (v, d)
        cleaned.append(r)

    snap = SnapshotTable(
        spark, tmp_path_factory.mktemp("snapprop") / "state",
        unique_key="k", strategy="timestamp", updated_at="ts")
    # python reference: list of versions per key
    ref: dict[int, list] = {}
    for r in cleaned:
        rows = [(k, v, base + timedelta(days=d))
                for k, (v, d) in sorted(r.items())]
        snap.run(spark.createDataFrame(rows, "k int, v string, ts timestamp"))
        for k, v, ts in rows:
            hist = ref.setdefault(k, [])
            if not hist:
                hist.append([v, ts, None])
            else:
                cur = hist[-1]
                if ts > cur[1]:            # strictly advanced ⇒ new version
                    cur[2] = ts
                    hist.append([v, ts, None])

    got = {(r["k"], r["v"], r["dbt_valid_from"], r["dbt_valid_to"])
           for r in snap.read().collect()}
    want = {(k, v, f, t) for k, hist in ref.items()
            for v, f, t in map(tuple, hist)}
    assert got == want


@given(left=st.lists(st.tuples(st.sampled_from("ab"), st.integers(0, 40)),
                     min_size=1, max_size=20),
       right=st.lists(st.tuples(st.sampled_from("ab"), st.integers(0, 40),
                                st.integers(0, 99)),
                      min_size=0, max_size=20),
       direction=st.sampled_from(["backward", "forward"]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_python_reference(spark, left, right, direction):
    """asof_join == the naive per-row scan for arbitrary inputs, both
    directions, including equal-timestamp inclusion and duplicate right
    timestamps (latest/earliest by the operator's deterministic
    within-ts ordering)."""
    from iot_simulator_datalake_spark.operators.asof import asof_join

    # dedupe right on (key, ts): the operator's contract is one row per
    # right timestamp (real quote/threshold feeds are keyed); keep max v
    rmap = {}
    for k, t, v in right:
        rmap[(k, t)] = max(v, rmap.get((k, t), -1))
    rrows = [(k, t, v) for (k, t), v in sorted(rmap.items())]

    ldf = spark.createDataFrame([(k, t, i) for i, (k, t) in
                                 enumerate(left)], "k string, ts int, lid int")
    rdf = spark.createDataFrame(rrows or [("zz", -1, 0)],
                                "k string, ts int, v int")
    got = {r["lid"]: r["right_v"] for r in
           asof_join(ldf, rdf, on="k", ts="ts",
                     direction=direction).collect()}

    for i, (k, t) in enumerate(left):
        if direction == "backward":
            cand = [(rt, v) for (rk, rt, v) in rrows
                    if rk == k and rt <= t]
            want = max(cand)[1] if cand else None
        else:
            cand = [(rt, v) for (rk, rt, v) in rrows
                    if rk == k and rt >= t]
            want = min(cand)[1] if cand else None
        assert got.get(i) == want, (i, k, t, direction)


@given(texts=st.lists(st.text(alphabet="ab c", min_size=0, max_size=30),
                      min_size=1, max_size=10))
@settings(**SETTINGS)
def test_bigram_lm_matches_python_reference(spark, texts):
    """bigram_lm_score == a direct Python add-one bigram LM fold (same
    micro-bit quantization), for arbitrary tiny corpora."""
    import math
    from collections import Counter
    from iot_simulator_datalake_spark.queries_curation import _bigram_lm

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_nll_bits"])
           for r in _bigram_lm(df).collect()}

    doc_bi = {i: list(zip(t.lower().split(), t.lower().split()[1:]))
              for i, t in enumerate(texts)}
    all_bi = [b for bs in doc_bi.values() for b in bs]
    c2, c1 = Counter(all_bi), Counter(b[0] for b in all_bi)
    vsz = len({b[1] for b in all_bi})
    expected = {}
    for i, bs in doc_bi.items():
        if not bs:
            continue
        tis = [round(-math.log2((c2[b] + 1.0) / (c1[b[0]] + vsz)) * 1e6)
               for b in bs]
        expected[i] = (len(bs), sum(tis) / (len(bs) * 1e6))
    assert got == expected


@given(texts=st.lists(st.text(alphabet="xy z", min_size=0, max_size=25),
                      min_size=1, max_size=10))
@settings(**SETTINGS)
def test_quality_classifier_matches_python_reference(spark, texts):
    """Hashed-feature classifier == direct Python md5 fold."""
    import hashlib
    from iot_simulator_datalake_spark.queries_curation import (
        _w_milli, _CLS_BUCKETS)

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    from iot_simulator_datalake_spark.functions.text import tokens
    t = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    got = {(r["doc_id"], r["w"]) for r in
           t.select("doc_id", _w_milli(F.col("t")).alias("w")).collect()}

    def w_ref(tok: str) -> int:
        bkt = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) \
            % _CLS_BUCKETS
        return int(hashlib.md5(f"w#{bkt}".encode()).hexdigest()[:15], 16) \
            % 2001 - 1000
    expected = set()
    for i, txt in enumerate(texts):
        for tok in txt.lower().split():
            expected.add((i, w_ref(tok)))
    # sets, not multisets: duplicate tokens map to the same weight
    assert got == expected


@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
       buckets=st.integers(1, 9), k=st.integers(1, 7))
@settings(**SETTINGS)
def test_ranged_prefix_matches_python_reference(spark, vals, buckets, k):
    """ranged_prefix rank/cumsum and global_ntile == direct Python
    folds over the sorted sequence, for arbitrary data and bucket
    counts (incl. buckets > n and duplicate values — the id column
    keeps the order total)."""
    from iot_simulator_datalake_spark.operators.prefix import (
        global_ntile, ranged_prefix)
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["id", "v"])
    order = [F.col("v"), F.col("id")]
    ranked, totals = ranged_prefix(df, order, sums={"cum": "v"},
                                   rank_col="rn", buckets=buckets)
    got = {r["id"]: (r["rn"], r["cum"]) for r in ranked.collect()}
    ref = sorted(rows, key=lambda r: (r[1], r[0]))
    run = 0
    exp = {}
    for rnk, (i, v) in enumerate(ref, start=1):
        run += v
        exp[i] = (rnk, run)
    assert got == exp
    assert totals == {"n": len(vals), "cum": run}

    nt = global_ntile(df, order, k, "tile", buckets=buckets)
    gott = {r["id"]: r["tile"] for r in nt.collect()}
    # independent oracle: Spark's own NTILE over a naive global window
    # (NOT a re-statement of global_ntile's divmod arithmetic — a
    # mirrored formula would test the implementation against itself,
    # leaving the n < k and boundary branches uncertified)
    from pyspark.sql import Window as W
    expt = {r["id"]: r["tile"] for r in
            df.select("id", F.ntile(k).over(W.orderBy(*order))
                      .cast("long").alias("tile")).collect()}
    assert gott == expt


@given(
    rows=st.lists(st.tuples(st.integers(0, 10_000),       # id
                            st.integers(-1000, 1000),     # value
                            st.sampled_from("pq")),       # group
                  min_size=1, max_size=60, unique_by=lambda t: t[0]),
    part=st.lists(st.booleans(), min_size=60, max_size=60),
    k=st.integers(1, 7),
)
@settings(**SETTINGS)
def test_qsketch_semilattice_arbitrary_partition(spark, rows, part, k):
    """bottom_k(bottom_k(A) ∪ bottom_k(B), g) == bottom_k(A ∪ B, g) for
    an ARBITRARY split of the rows into A/B — stronger than the
    real-data hour-split test: the merge tree may follow ANY partition
    layout (the 100 TB claim), and a Python reference recomputes the
    expected member set from the md5 hashes directly."""
    import hashlib

    from iot_simulator_datalake_spark.operators.qsketch import (
        bottom_k, sketch_hash)

    full = [(i, float(v), g,
             hashlib.md5(f"qsk:{i}".encode()).hexdigest())
            for (i, v, g) in rows]
    df = spark.createDataFrame(full, ["id", "value", "g", "h"])
    # arbitrary split: hypothesis booleans index-aligned with rows
    a = [r for r, b in zip(full, part) if b]
    b = [r for r, bo in zip(full, part) if not bo]
    schema = "id bigint, value double, g string, h string"
    da, db = (spark.createDataFrame(x, schema) for x in (a, b))
    merged = bottom_k(bottom_k(da, ["g"], k).unionByName(
        bottom_k(db, ["g"], k)), ["g"], k)
    direct = bottom_k(df, ["g"], k)
    got_m = {(r["g"], r["id"]) for r in merged.collect()}
    got_d = {(r["g"], r["id"]) for r in direct.collect()}
    # python reference: k smallest hashes per group (ids unique ⇒
    # hashes unique ⇒ no tie ambiguity)
    expected = set()
    for g in "pq":
        grp = sorted((h, i) for (i, v, gg, h) in full if gg == g)
        expected |= {(g, i) for (h, i) in grp[:k]}
    assert got_m == got_d == expected
    # spark's hash column agrees with the reference recipe
    chk = df.select((sketch_hash(F.col("id")) == F.col("h"))
                    .alias("ok")).collect()
    assert all(r["ok"] for r in chk)


# =========================================================================
# r9 stdlib codecs: round-trip invariants for arbitrary geometries/bytes
# (pure Python — no Spark job per example, so examples can be generous)
# =========================================================================

@given(w=st.integers(1, 17), h=st.integers(1, 9), data=st.data())
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_geometry(w, h, data):
    """decode(encode(rgb)) == rgb for every width (stride padding
    0-3 bytes) and arbitrary pixel bytes."""
    from iot_simulator_datalake_spark.multimodal.transforms import (
        _decode_bmp, encode_bmp)
    rgb = bytes(data.draw(st.binary(min_size=w * h * 3,
                                    max_size=w * h * 3)))
    assert _decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)


@given(w=st.integers(1, 17), h=st.integers(1, 9), data=st.data())
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip_any_geometry(w, h, data):
    from iot_simulator_datalake_spark.multimodal.transforms import (
        _decode_ppm, encode_ppm)
    rgb = bytes(data.draw(st.binary(min_size=w * h * 3,
                                    max_size=w * h * 3)))
    assert _decode_ppm(encode_ppm(w, h, rgb)) == (w, h, rgb)


@given(rate=st.sampled_from([8000, 16000, 44100]),
       channels=st.integers(1, 2), frames=st.integers(1, 200),
       data=st.data())
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_pcm(rate, channels, frames, data):
    from iot_simulator_datalake_spark.multimodal.transforms import (
        _decode_wav, encode_wav)
    nbytes = frames * channels * 2
    pcm = bytes(data.draw(st.binary(min_size=nbytes, max_size=nbytes)))
    assert _decode_wav(encode_wav(rate, channels, pcm)) == \
        (rate, channels, pcm)


@given(rows=st.lists(
    st.tuples(st.integers(-2**31, 2**31), st.floats(
        allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8)),
    min_size=0, max_size=30))
@settings(max_examples=40, deadline=None)
def test_hash_multiset_is_permutation_invariant_and_injective_ish(rows):
    """The hash-mode comparator (tools/check_oracle): any permutation
    of rows hashes equal; dropping or duplicating one row (when
    non-empty) hashes different."""
    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import numpy as np
    import pyarrow as pa
    from check_oracle import _hash_multiset

    def tbl(rs):
        return pa.table({
            "i": pa.array([r[0] for r in rs], pa.int64()),
            "f": pa.array([r[1] for r in rs], pa.float64()),
            "s": pa.array([r[2] for r in rs], pa.string())})

    h = _hash_multiset(tbl(rows))
    hp = _hash_multiset(tbl(list(reversed(rows))))
    assert np.array_equal(h, hp)
    if rows:
        assert not np.array_equal(h, _hash_multiset(tbl(rows[1:])))
        assert not np.array_equal(
            h, _hash_multiset(tbl(rows + [rows[0]])))


@given(qv_c=st.integers(9000, 11000), qv_i=st.integers(9000, 11000))
@settings(max_examples=200, deadline=None)
def test_structured_fixture_residual_identity(qv_c, qv_i):
    """The r10 structured PQ fixture's load-bearing algebra
    (FIXTURES.md §5): for any quantized dims in the milli-unit range,
    cl − cterm == qv//8 + SHIFT exactly (the residual relation the
    oracle builds DIRECTLY from pts must equal the fixture minus its
    center term — if these diverge, the residual trainer trains on a
    different relation than the serving table assumes), and every
    quantity stays positive so the floor-div trainer's div/// parity
    holds in both engines."""
    import iot_simulator_datalake_spark.queries  # noqa: F401 — load
    # order: the registry module resolves the queries_* import cycle
    from iot_simulator_datalake_spark.queries_ml import (
        _SA, _SC, _SHIFT, _SN)
    SHIFT, A, SN = _SHIFT, _SA, _SN
    assert _SC == 8 and min(range(_SC)) == 0 % _SC  # one seed per cell
    cterm = (qv_c - SHIFT) * A
    cl = cterm + qv_i // SN + SHIFT
    residual = cl - cterm
    assert residual == qv_i // SN + SHIFT
    assert cl > 0 and residual > 0 and qv_i > 0
    # python // on positives == Spark `div` == DuckDB `//`
    assert qv_i // SN == int(qv_i / SN)
