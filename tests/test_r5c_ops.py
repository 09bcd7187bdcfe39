"""Invariant tests for the r5 third-session ops: k-core peeling,
l-diversity audit, tokenizer fertility.  The oracle-parity suite
covers hash equality; these pin the semantics independently."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_batch_spark.operators.corpus_ops import (
    KCORE_K,
    KCORE_ROUNDS,
    graph_kcore,
)
from parquet_batch_spark.operators.llm_prep import segment_edges
from parquet_batch_spark.operators.pipeline_ops import (
    LDIV_C,
    LDIV_L,
    privacy_l_diversity,
)
from parquet_batch_spark.operators.text_analysis import text_tokenizer_fertility


def _python_kcore(edges: list[tuple[int, int]], k: int, rounds: int) -> dict[int, int]:
    """Reference synchronous peel in pure Python: after `rounds` rounds
    of dropping deg<k vertices, return {vertex: in-core degree}."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    for _ in range(rounds):
        alive = {
            v for v in alive if sum(1 for u in adj[v] if u in alive) >= k
        }
    return {
        v: sum(1 for u in adj[v] if u in alive)
        for v in alive
        if any(u in alive for u in adj[v])
    }


def test_kcore_matches_python_reference(spark, sf_dir):
    edges = [
        (r["a"], r["b"]) for r in segment_edges(spark, sf_dir).collect()
    ]
    expected = _python_kcore(edges, KCORE_K, KCORE_ROUNDS)
    got = {
        r["doc_id"]: r["kcore_degree"]
        for r in graph_kcore(spark, sf_dir).collect()
    }
    assert got == expected
    # at this SF the peel has converged: every survivor meets the bar
    assert all(d >= KCORE_K for d in got.values())


def test_l_diversity_class_accounting(spark, sf_dir):
    rows = privacy_l_diversity(spark, sf_dir).collect()
    assert rows, "no equivalence classes"
    assert sum(r["k"] for r in rows) == 500  # every document in one class
    for r in rows:
        assert r["top_freq"] + r["tail_mass"] == r["k"]
        assert 1 <= r["l_distinct"] <= r["k"]
        assert r["ok_l"] == (r["l_distinct"] >= LDIV_L)
        assert r["ok_recursive"] == (r["top_freq"] < LDIV_C * r["tail_mass"])
        assert r["diverse"] == (r["ok_l"] and r["ok_recursive"])
        # modal frequency is at least the class mean frequency
        assert r["top_freq"] * r["l_distinct"] >= r["k"]


def test_aspect_bucket_matches_python_argmin(spark, sf_dir):
    from parquet_batch_spark.operators.multimodal import (
        ASPECT_BUCKETS,
        multimodal_aspect_bucket,
    )

    n_docs = 500
    counts: dict[int, int] = {}
    waste: dict[int, int] = {}
    bars = [(1_000_000 * bw) // bh for bw, bh in ASPECT_BUCKETS]
    for doc_id in range(n_docs):
        w = 256 + (doc_id * 37) % 768
        h = 256 + (doc_id * 53) % 768
        ar = (1_000_000 * w) // h
        best = min(range(len(ASPECT_BUCKETS)), key=lambda i: (abs(ar - bars[i]), i))
        counts[best] = counts.get(best, 0) + 1
        bw, bh = ASPECT_BUCKETS[best]
        waste[best] = waste.get(best, 0) + abs(w * bh - h * bw)
    rows = multimodal_aspect_bucket(spark, sf_dir).collect()
    assert sum(r["n_images"] for r in rows) == n_docs
    got = {r["bucket_idx"]: (r["n_images"], r["sum_crop_waste"]) for r in rows}
    assert got == {i: (counts[i], waste[i]) for i in counts}


def test_lexical_diversity_bounds(spark, sf_dir):
    from parquet_batch_spark.operators.text_analysis import (
        MSTTR_W,
        text_lexical_diversity,
    )

    rows = text_lexical_diversity(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 < r["ttr_micro"] <= 1_000_000
        assert (r["msttr_micro"] is None) == (r["n_segs"] == 0)
        if r["msttr_micro"] is not None:
            # a complete segment has between 1 and W types
            assert (1_000_000 // MSTTR_W) <= r["msttr_micro"] <= 1_000_000


def test_time_travel_snapshots_grow_monotonically(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import TT_AS_OF, etl_time_travel

    rows = etl_time_travel(spark, sf_dir).collect()
    assert [r["as_of"] for r in rows] == list(TT_AS_OF)
    seen = [r["n_live"] + r["n_deleted"] for r in rows]
    # each later snapshot has seen at least every key an earlier one saw
    assert seen == sorted(seen)
    for r in rows:
        assert r["live_total"] > 0


def test_hodges_lehmann_matches_python(spark, sf_dir):
    from parquet_batch_spark.operators.analytics import (
        HL_BUCKET,
        agg_hodges_lehmann,
    )
    from parquet_batch_spark.catalog import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_grp: dict[str, dict[int, int]] = {}
    for r in orders:
        b = int(r["o_totalprice"] // HL_BUCKET)
        by_grp.setdefault(r["o_orderpriority"], {}).setdefault(b, 0)
        by_grp[r["o_orderpriority"]][b] += 1
    expected = {}
    for grp, cnt in by_grp.items():
        walsh: dict[int, int] = {}
        bks = sorted(cnt)
        for i, bi in enumerate(bks):
            for bj in bks[i:]:
                w = (
                    cnt[bi] * (cnt[bi] + 1) // 2
                    if bi == bj
                    else cnt[bi] * cnt[bj]
                )
                walsh[bi + bj] = walsh.get(bi + bj, 0) + w
        total = sum(walsh.values())
        cum = 0
        for w2 in sorted(walsh):
            cum += walsh[w2]
            if 2 * cum >= total:
                expected[grp] = (total, w2)
                break
    rows = agg_hodges_lehmann(spark, sf_dir).collect()
    got = {r["grp"]: (r["n_pairs"], r["hl_walsh2"]) for r in rows}
    assert got == expected


def test_neighborhood_jaccard_bounds(spark, sf_dir):
    from parquet_batch_spark.operators.corpus_ops import (
        NJ_MIN_MICRO,
        graph_neighborhood_jaccard,
    )

    rows = graph_neighborhood_jaccard(spark, sf_dir).collect()
    for r in rows:
        assert r["a"] < r["b"]
        assert 1 <= r["inter"] <= min(r["da"], r["db"])
        assert NJ_MIN_MICRO <= r["jaccard_micro"] <= 1_000_000
        union = r["da"] + r["db"] - r["inter"]
        assert r["jaccard_micro"] == (1_000_000 * r["inter"]) // union


def test_caption_alignment_matches_python(spark, sf_dir):
    import hashlib
    import math

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.multimodal import (
        CAP_DIMS,
        multimodal_caption_alignment,
    )

    rows = multimodal_caption_alignment(spark, sf_dir).collect()
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .filter("doc_id < 5")
        .collect()
    }
    embs = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, sf_dir, "embeddings")
        .filter("vec_id < 5")
        .collect()
    }
    for doc_id, text in docs.items():
        s = [0] * CAP_DIMS
        for tok in text.split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            s[h % CAP_DIMS] += 1 if (h // CAP_DIMS) % 2 == 0 else -1
        q = [math.floor(float(x) * 1_000_000) for x in embs[doc_id]]
        dot = sum(si * qi for si, qi in zip(s, q))
        tn2 = sum(si * si for si in s)
        qn2 = sum(qi * qi for qi in q)
        r = by_id[doc_id]
        assert (r["dot"], r["tn2"], r["qn2"]) == (dot, tn2, qn2)
        assert abs(r["cosine"] - dot / (math.sqrt(tn2) * math.sqrt(qn2))) < 1e-6
        assert -1.0 <= r["cosine"] <= 1.0


def test_rowgroup_stats_layout(spark, sf_dir):
    from parquet_batch_spark.operators.scale_ops import (
        RG_PRUNE_MIN,
        RG_SIZE,
        scan_rowgroup_stats,
    )

    rows = scan_rowgroup_stats(spark, sf_dir).collect()
    assert sum(r["num_rows"] for r in rows) == 500
    assert all(r["num_rows"] == RG_SIZE for r in rows[:-1])
    for prev, cur in zip(rows, rows[1:]):
        # sorted staging ⇒ contiguous, non-overlapping doc ranges
        assert prev["max_doc"] < cur["min_doc"]
    for r in rows:
        assert r["min_doc"] <= r["max_doc"]
        assert r["min_chars"] <= r["max_chars"]
        assert r["pruned"] == (r["max_doc"] < RG_PRUNE_MIN)
    assert any(r["pruned"] for r in rows) and not all(r["pruned"] for r in rows)
    # double invocation (memoized staging) is stable
    again = scan_rowgroup_stats(spark, sf_dir).collect()
    assert again == rows


def test_randomized_response_debiasing(spark, sf_dir):
    from parquet_batch_spark.operators.pipeline_ops import (
        privacy_randomized_response,
    )

    rows = privacy_randomized_response(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == 500
    for r in rows:
        assert 0 <= r["n_true"] <= r["n"]
        assert 0 <= r["n_reported"] <= r["n"]
        # the unbiased inversion recovers the true rate well within the
        # RR noise envelope (sd ≈ 2·sqrt(3/16/n) ≈ 8% at n≈125)
        assert abs(r["est_rate_micro"] - r["true_rate_micro"]) < 250_000


def test_pps_certainty_units_and_python_replay(spark, sf_dir):
    import hashlib

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.pipeline_ops import (
        PPS_K,
        sample_pps_systematic,
    )

    docs = load(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    ).collect()
    strata: dict[str, list] = {}
    for r in docs:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        strata.setdefault(r["lang"], []).append((h, r["doc_id"], r["n_chars"]))
    expected = set()
    for lang, units in strata.items():
        units.sort()
        total = sum(w for _, _, w in units)
        skip = total // PPS_K
        cum = 0
        for _, doc_id, w in units:
            prev = cum
            cum += w
            if cum // skip > prev // skip:
                expected.add((lang, doc_id))
    got = {
        (r["lang"], r["doc_id"])
        for r in sample_pps_systematic(spark, sf_dir).collect()
    }
    assert got == expected
    # certainty property: any unit at least one skip long is drawn
    for lang, units in strata.items():
        total = sum(w for _, _, w in units)
        skip = total // PPS_K
        for _, doc_id, w in units:
            if w >= skip:
                assert (lang, doc_id) in got


def test_iter_udf_partitioning_invariant(spark, sf_dir):
    """The iterator protocol must give identical results whatever the
    partition/batch split — init-once state cannot leak across rows."""
    from parquet_batch_spark.operators.udfs import udf_pandas_scalar_iter

    base = udf_pandas_scalar_iter(spark, sf_dir).collect()
    assert base
    tiers = {r["tier_checksum"] // 1_000_000_000 for r in base}
    assert tiers <= {0, 1, 2, 3} and len(tiers) > 1


def test_streaming_update_mode_equals_batch(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.functions.numeric import dec
    from parquet_batch_spark.streaming.windows import (
        streaming_update_mode_counts,
    )

    got = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in streaming_update_mode_counts(spark, sf_dir).collect()
    }
    exp = {
        r["event_type"]: (r["n"], r["s"])
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("decimal(18,4)").cast("double").alias("s"),
        )
        .collect()
    }
    assert got == exp


def test_threshold_sweep_is_monotone(spark, sf_dir):
    from parquet_batch_spark.operators.dedup import (
        SWEEP_THRESHOLDS_MICRO,
        dedup_threshold_sweep,
    )

    rows = dedup_threshold_sweep(spark, sf_dir).collect()
    assert [r["thr_micro"] for r in rows] == list(SWEEP_THRESHOLDS_MICRO)
    for lo, hi in zip(rows, rows[1:]):
        # raising the threshold can only shrink the flagged set
        assert hi["n_pairs"] <= lo["n_pairs"]
        assert hi["n_docs_dropped"] <= lo["n_docs_dropped"]
        # ...and can only raise the mean similarity of survivors
        assert hi["mean_jac_micro"] >= lo["mean_jac_micro"]
    for r in rows:
        assert r["n_docs_dropped"] <= r["n_pairs"]
        assert r["thr_micro"] <= r["mean_jac_micro"] <= 1_000_000


def test_ece_bucket_accounting(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_expected_calibration_error
    from parquet_batch_spark.operators.stats.common import ECE_BUCKETS

    rows = agg_expected_calibration_error(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == 500
    for r in rows:
        assert 0 <= r["bucket"] < ECE_BUCKETS
        assert 0 <= r["acc_micro"] <= 1_000_000
        assert 0 <= r["mean_conf_micro"] <= 1_000_000
        assert r["gap_micro"] == abs(r["mean_conf_micro"] - r["acc_micro"])
        # bucket contains only confidences from its decile (top bucket
        # also absorbs the saturated 1.0 scores)
        lo = r["bucket"] * 100_000
        hi = 1_000_000 if r["bucket"] == ECE_BUCKETS - 1 else lo + 100_000
        assert lo <= r["mean_conf_micro"] <= hi


def test_bm25_matches_python(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.text_analysis import (
        BM25_QUERY,
        BM25_TOPK,
        text_bm25_topk,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].split() for r in docs}
    n_docs = len(toks)
    sum_dl = sum(len(t) for t in toks.values())
    df = {
        q: sum(1 for t in toks.values() if q in t) for q in BM25_QUERY
    }
    scores: dict[int, tuple[int, int]] = {}
    for doc_id, t in toks.items():
        dl = len(t)
        r_milli = (1000 * dl * n_docs) // sum_dl
        total, hits = 0, 0
        for q in BM25_QUERY:
            tf = t.count(q)
            if tf == 0:
                continue
            hits += 1
            total += (1_000_000 * (2 * (n_docs - df[q]) + 1) * (2200 * tf)) // (
                (2 * df[q] + 1) * (1000 * tf + 300 + (9 * r_milli) // 10)
            )
        if hits:
            scores[doc_id] = (hits, total)
    expected = sorted(
        scores.items(), key=lambda kv: (-kv[1][1], kv[0])
    )[:BM25_TOPK]
    got = [
        (r["doc_id"], (r["n_terms_hit"], r["bm25_micro"]))
        for r in text_bm25_topk(spark, sf_dir).collect()
    ]
    assert got == expected


def test_nb_langid_confusion_accounting(spark, sf_dir):
    from parquet_batch_spark.operators.stats.ml import ml_naive_bayes_langid

    rows = ml_naive_bayes_langid(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    langs = {r["lang_true"] for r in rows}
    assert {r["lang_pred"] for r in rows} <= langs
    assert all(r["n_docs"] > 0 for r in rows)


def test_pq_distortion_shape(spark, sf_dir):
    from parquet_batch_spark.operators.similarity import (
        PQ_M,
        embedding_pq_distortion,
    )

    rows = embedding_pq_distortion(spark, sf_dir).collect()
    assert [r["m"] for r in rows] == list(range(1, PQ_M + 1))
    n = {r["n_vecs"] for r in rows}
    assert len(n) == 1  # every subspace encodes every vector
    for r in rows:
        assert 0 <= r["mean_d2_nano"] <= r["max_d2_nano"]


def test_negative_sampling_table_contract(spark, sf_dir):
    from parquet_batch_spark.operators.llm_prep import (
        NEG_VOCAB,
        sample_negative_sampling,
    )

    rows = sample_negative_sampling(spark, sf_dir).collect()
    # synthetic corpus vocab (~31 words) is below the top-V cap
    assert 10 < len(rows) <= NEG_VOCAB
    # contiguous, gap-free cumulative ranges covering [0, total)
    assert rows[0]["cum_start"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_start"] == prev["cum_end"]
    assert rows[-1]["cum_end"] == rows[0]["total_micro"]
    for r in rows:
        # w^(3/4) flattening: micro weight between c^(1/2) and c scales
        assert r["cum_end"] - r["cum_start"] == r["w_micro"]
        assert 0 <= r["p_micro"] <= 1_000_000
        expected = int((r["c"] * (r["c"] ** 0.5)) ** 0.5 * 1_000_000)
        assert abs(r["w_micro"] - expected) <= 1  # float-assoc slack


def test_allen_relations_partition_pairs(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.windows import (
        window_allen_interval_relations,
    )

    rows = window_allen_interval_relations(spark, sf_dir).collect()
    names = {r["relation"] for r in rows}
    assert names <= {
        "precedes", "meets", "overlaps", "finished_by", "contains",
        "starts", "started_by", "equals",
    }
    n_orders = load(spark, sf_dir, "orders").count()
    n_custs = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    # every consecutive pair classified exactly once
    assert sum(r["n_pairs"] for r in rows) == n_orders - n_custs


def test_ratio_ci_matches_python(spark, sf_dir):
    import math

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.agg_inference import agg_ratio_delta_ci

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (math.floor(r["l_extendedprice"] * 100), int(r["l_quantity"]))
        )
    got = {r["flag"]: r for r in agg_ratio_delta_ci(spark, sf_dir).collect()}
    for flag, vals in groups.items():
        n = len(vals)
        sx = sum(v[0] for v in vals)
        sy = sum(v[1] for v in vals)
        sxx = sum(v[0] * v[0] for v in vals)
        syy = sum(v[1] * v[1] for v in vals)
        sxy = sum(v[0] * v[1] for v in vals)
        mx, my = sx / n, sy / n
        r_hat = sx / sy
        var = (
            (sxx / n - mx * mx)
            - 2.0 * r_hat * (sxy / n - mx * my)
            + r_hat * r_hat * (syy / n - my * my)
        ) / (n * my * my)
        se = math.sqrt(var)
        row = got[flag]
        assert row["n"] == n
        assert abs(row["ratio"] - r_hat) < 1e-5
        assert abs(row["se"] - se) < 1e-5
        assert row["ci_lo"] < row["ratio"] < row["ci_hi"]


def test_winnowing_matches_python(spark, sf_dir):
    import hashlib

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.text_analysis import (
        WIN_K,
        WIN_W,
        text_winnowing_fingerprints,
    )

    docs = load(spark, sf_dir, "documents").filter("doc_id < 10").collect()
    got = {
        r["doc_id"]: r
        for r in text_winnowing_fingerprints(spark, sf_dir).collect()
    }
    for row in docs:
        t = row["text"].split()
        grams = [
            int(
                hashlib.md5(" ".join(t[i : i + WIN_K]).encode()).hexdigest()[:8],
                16,
            )
            for i in range(len(t) - WIN_K + 1)
        ]
        n_w = max(len(grams) - WIN_W + 1, 0)
        sel = []
        for j in range(n_w):
            m = min(grams[j : j + WIN_W])
            if m not in sel:
                sel.append(m)
        r = got[row["doc_id"]]
        assert r["n_grams"] == len(grams)
        assert r["n_windows"] == n_w
        assert r["n_fingerprints"] == len(sel)
        assert r["fp_checksum"] == sum(sel)
    # density theory check: ~2/(w+1) of windows select a new fingerprint
    dens = [r["density_micro"] for r in got.values() if r["n_windows"] > 50]
    if dens:
        mean = sum(dens) / len(dens)
        assert 2_000_000 // (WIN_W + 1) * 0.4 < mean < 2_000_000 // (WIN_W + 1) * 3


def test_luhn_validates_about_a_tenth(spark, sf_dir):
    from parquet_batch_spark.operators.pipeline_ops import (
        quality_luhn_validation,
    )

    rows = quality_luhn_validation(spark, sf_dir).collect()
    n = sum(r["n_candidates"] for r in rows)
    v = sum(r["n_valid"] for r in rows)
    assert n > 0
    # mod-10 checksum passes ~1/10 of arbitrary digit strings
    assert 0.05 < v / n < 0.15
    # python cross-check of the checksum on a few candidates
    def luhn_ok(s: str) -> bool:
        tot = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    sample = [f"{(k * 48271) % 10**15:016d}" for k in range(1, 200)]
    rate = sum(luhn_ok(s) for s in sample) / len(sample)
    assert 0.03 < rate < 0.2


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Shapley values must sum to v(grand coalition) − v(∅) — the
    efficiency axiom, exact in the ×k! scaled integers."""
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.agg_descriptive import (
        SHAP_CHANNELS,
        agg_shapley_attribution,
    )

    rows = agg_shapley_attribution(spark, sf_dir).collect()
    assert [r["channel"] for r in rows] == sorted(SHAP_CHANNELS)
    ev = load(spark, sf_dir, "events").collect()
    users: dict[int, tuple[int, int]] = {}
    for e in ev:
        mask, conv = users.get(e["user_id"], (0, 0))
        for i, ch in enumerate(SHAP_CHANNELS):
            if e["event_type"] == ch:
                mask |= 1 << i
        users[e["user_id"]] = (mask, conv | (e["event_type"] == "purchase"))
    from collections import Counter

    n_u: Counter = Counter()
    n_c: Counter = Counter()
    for mask, conv in users.values():
        n_u[mask] += 1
        n_c[mask] += conv
    def v(mask: int) -> int:
        return (1_000_000 * n_c[mask]) // n_u[mask] if n_u[mask] else 0

    full = (1 << len(SHAP_CHANNELS)) - 1
    total_phi = sum(r["phi_scaled_micro"] for r in rows)
    assert total_phi == 24 * (v(full) - v(0))


def test_sax_words_shape(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import rollup_sax_symbols

    rows = rollup_sax_symbols(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert len(r["sax"]) == 6
        assert set(r["sax"]) <= set("abcd")
        assert r["total_milli"] >= 0
    # profiles are not degenerate: more than one distinct word
    assert len({r["sax"] for r in rows}) > 1


def test_sorted_neighborhood_pairs_share_prefix(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.dedup import (
        SNM_KEY_LEN,
        SNM_MIN_CPL,
        dedup_sorted_neighborhood,
    )

    rows = dedup_sorted_neighborhood(spark, sf_dir).collect()
    assert rows
    texts = {
        r["doc_id"]: r["text"][:SNM_KEY_LEN]
        for r in load(spark, sf_dir, "documents").collect()
    }
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        a, b = texts[r["doc_a"]], texts[r["doc_b"]]
        cpl = 0
        for i in range(1, SNM_KEY_LEN + 1):
            if a[:i] == b[:i]:
                cpl = i
        assert r["cpl"] == cpl >= SNM_MIN_CPL


def test_data_vault_keys_are_collision_free(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.warehouse import etl_data_vault_keys

    rows = {r["entity"]: r for r in etl_data_vault_keys(spark, sf_dir).collect()}
    n_orders = load(spark, sf_dir, "orders").count()
    n_cust = load(spark, sf_dir, "customer").count()
    assert rows["hub_customer"]["n_rows"] == n_cust
    assert rows["hub_order"]["n_rows"] == n_orders
    assert rows["link_order_customer"]["n_rows"] == n_orders
    # hash keys are collision-free over the business keys
    assert rows["hub_customer"]["n_keys"] == n_cust
    assert rows["hub_order"]["n_keys"] == n_orders
    assert rows["link_order_customer"]["n_keys"] == n_orders


def test_jl_ratio_concentrates(spark, sf_dir):
    from parquet_batch_spark.operators.similarity import (
        embedding_random_projection_jl,
    )

    rows = embedding_random_projection_jl(spark, sf_dir).collect()
    assert len(rows) == 500
    ratios = [r["ratio_milli"] for r in rows]
    mean = sum(ratios) / len(ratios)
    # E||Rx||^2 = d_out * ||x||^2 holds in EXPECTATION over vectors;
    # per-vector concentration does NOT hold here because the synthetic
    # embeddings share a large constant component that balanced ±1 rows
    # annihilate (ratio ~0 for near-constant vectors) — so only the
    # corpus mean is pinned
    assert 700 < mean < 1300
    assert all(r["x_norm2"] > 0 and r["y_norm2"] >= 0 for r in rows)


def test_ct_langid_confusion_accounting(spark, sf_dir):
    from parquet_batch_spark.operators.text_analysis import (
        text_langid_ngram_profile,
    )

    rows = text_langid_ngram_profile(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    langs = {r["lang_true"] for r in rows}
    assert {r["lang_pred"] for r in rows} <= langs


def test_burstiness_bounds(spark, sf_dir):
    from parquet_batch_spark.operators.stats.text import BURST_MIN_DF, text_word_burstiness

    rows = text_word_burstiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["df"] >= BURST_MIN_DF
        assert r["s"] >= r["df"]
        assert r["fano_micro"] >= 0
        assert r["extra_per_doc_micro"] == (1_000_000 * (r["s"] - r["df"])) // r["df"]
    fanos = [r["fano_micro"] for r in rows]
    assert fanos == sorted(fanos, reverse=True)


def test_wap_published_equals_staged(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import etl_write_audit_publish

    rows = {r["phase"]: r for r in etl_write_audit_publish(spark, sf_dir).collect()}
    s, p = rows["1_staged"], rows["2_published"]
    assert s["gate_passed"] and p["gate_passed"]
    assert s["n_null_keys"] == 0
    # promotion copied exactly what was audited
    assert (s["n_rows"], s["revenue"]) == (p["n_rows"], p["revenue"])
    # double invocation stable (memoized staging)
    again = {r["phase"]: r for r in etl_write_audit_publish(spark, sf_dir).collect()}
    assert again["2_published"]["revenue"] == p["revenue"]


def test_ndcg_contract(spark, sf_dir):
    from parquet_batch_spark.operators.text_analysis import (
        quality_ndcg_ranking_eval,
    )

    rows = quality_ndcg_ranking_eval(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, 11))
    running = 0
    for r in rows:
        running += r["gain_micro"]
        assert r["dcg_running_micro"] == running
    final = rows[-1]
    # DCG <= IDCG always; ndcg column is the running ratio
    assert 0 <= final["ndcg_micro"] <= 1_000_000
    assert final["ndcg_micro"] == (1_000_000 * final["dcg_running_micro"]) // final["idcg_micro"]


def test_geohash_prefix_locality(spark, sf_dir):
    from parquet_batch_spark.operators.scalar_funcs import (
        GH_PREFIX,
        GH_SPACE,
        func_geohash_encode,
    )

    rows = func_geohash_encode(spark, sf_dir).collect()
    assert rows
    # a 3-char prefix fixes 15 bits = 8 per x-axis, 7 per y-axis →
    # cells of GH_SPACE/2^8 by GH_SPACE/2^7 (+1 quantization slack)
    max_dx = GH_SPACE // (1 << 8) + (GH_SPACE >> 20) + 2
    max_dy = GH_SPACE // (1 << 7) + (GH_SPACE >> 20) + 2
    total = 0
    for r in rows:
        total += r["n_points"]
        assert len(r["prefix"]) == GH_PREFIX
        assert r["max_px"] - r["min_px"] <= max_dx
        assert r["max_py"] - r["min_py"] <= max_dy
    from parquet_batch_spark.catalog import load

    assert total == load(spark, sf_dir, "events").count()


def test_mann_kendall_matches_python(spark, sf_dir):
    from collections import Counter

    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.agg_inference import agg_mann_kendall_trend

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).collect()
    series: dict[str, Counter] = {}
    for r in orders:
        series.setdefault(r["o_orderpriority"], Counter())[r["m"]] += 1
    got = {r["grp"]: r for r in agg_mann_kendall_trend(spark, sf_dir).collect()}
    for grp, cnt in series.items():
        xs = [c for _, c in sorted(cnt.items())]
        n = len(xs)
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = Counter(xs)
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values()
        )
        r = got[grp]
        assert (r["n"], r["s"], r["var18"]) == (n, s, var18)


def test_bradley_terry_strengths_normalized(spark, sf_dir):
    from parquet_batch_spark.operators.stats.ml import ml_bradley_terry_ranking

    rows = ml_bradley_terry_ranking(spark, sf_dir).collect()
    assert len(rows) == 5  # the five order priorities
    total = sum(r["strength_micro"] for r in rows)
    # renormalized to ~|players|·1e6 (integer floors can undershoot)
    assert 5_000_000 - 50 <= total <= 5_000_000
    for r in rows:
        assert r["strength_micro"] > 0
        assert 0 <= r["wins"] <= r["n_matches"]
    # strengths must order consistently with win RATES on symmetric
    # match counts (all priorities play each other about equally)
    by_rate = sorted(rows, key=lambda r: r["wins"] / r["n_matches"])
    by_strength = sorted(rows, key=lambda r: r["strength_micro"])
    assert [r["player"] for r in by_rate] == [
        r["player"] for r in by_strength
    ]


def test_patch_budget_exact(spark, sf_dir):
    from parquet_batch_spark.operators.multimodal import (
        VIT_PATCH,
        multimodal_patch_token_budget,
    )

    rows = multimodal_patch_token_budget(spark, sf_dir).collect()
    assert sum(r["n_images"] for r in rows) == 500
    for r in rows:
        assert r["mean_tokens"] == r["total_tokens"] // r["n_images"]
        assert r["max_tokens"] <= ((1024 // VIT_PATCH) + 1) ** 2 + 1
        assert r["total_pad_px"] >= 0


def test_kappa_matches_python(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.agg_inference import agg_cohen_kappa
    from parquet_batch_spark.operators.text_analysis import text_langid

    preds = {
        r["doc_id"]: (r["lang_label"], r["lang_pred"])
        for r in text_langid(spark, sf_dir).collect()
    }
    from collections import Counter

    conf = Counter(preds.values())
    n = sum(conf.values())
    agree = sum(c for (y, p), c in conf.items() if y == p)
    rows = Counter()
    cols = Counter()
    for (y, p), c in conf.items():
        rows[y] += c
        cols[p] += c
    src = sum(rows[k] * cols.get(k, 0) for k in rows)
    row = agg_cohen_kappa(spark, sf_dir).collect()[0]
    assert (row["n"], row["n_agree"], row["sum_rc"]) == (n, agree, src)
    assert row["kappa_micro"] == (1_000_000 * (n * agree - src)) // (n * n - src)
    assert load(spark, sf_dir, "documents").count() == n


def test_auc_matches_python(spark, sf_dir):
    from parquet_batch_spark.catalog import load
    from parquet_batch_spark.operators.stats.ml import ml_auc_roc

    docs = load(spark, sf_dir, "documents").select("n_chars", "text").collect()
    pairs = [
        (
            min(1_000_000, (1_000_000 * r["n_chars"]) // 3000),
            1 if "data" in r["text"].split() else 0,
        )
        for r in docs
    ]
    pos = sorted(s for s, y in pairs if y)
    neg = sorted(s for s, y in pairs if not y)
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    auc2 = 2 * wins + ties
    row = ml_auc_roc(spark, sf_dir).collect()[0]
    assert (row["n"], row["n_pos"], row["n_neg"]) == (
        len(pairs),
        len(pos),
        len(neg),
    )
    assert row["auc_micro"] == (1_000_000 * auc2) // (2 * len(pos) * len(neg))
    assert 0 <= row["auc_micro"] <= 1_000_000


def test_kmeans_partition_is_total_and_inertia_positive(spark, sf_dir):
    from parquet_batch_spark.operators.similarity import (
        KM_K,
        ml_kmeans_lloyd,
    )

    rows = ml_kmeans_lloyd(spark, sf_dir).collect()
    assert [r["k"] for r in rows] == list(range(1, KM_K + 1))
    assert sum(r["n_vecs"] for r in rows) == 500
    for r in rows:
        assert r["n_vecs"] > 0
        assert r["inertia"] > 0


def test_mcnemar_discordant_accounting(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_inference import agg_mcnemar_test

    row = agg_mcnemar_test(spark, sf_dir).collect()[0]
    assert row["n"] == 500
    assert row["b"] + row["c"] + row["both_ok"] <= row["n"]
    num = (abs(row["b"] - row["c"]) - 1) ** 2
    assert row["chi2_micro"] == (1_000_000 * num) // (row["b"] + row["c"])
    assert row["significant"] == (row["chi2_micro"] > 3_841_000)


def test_lift_curve_contract(spark, sf_dir):
    from parquet_batch_spark.operators.stats.ml import ml_lift_curve

    rows = ml_lift_curve(spark, sf_dir).collect()
    assert rows
    # buckets descend; cumulative counts ascend; final capture = 100%
    assert [r["bucket"] for r in rows] == sorted(
        (r["bucket"] for r in rows), reverse=True
    )
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_n"] > prev["cum_n"]
        assert cur["cum_pos"] >= prev["cum_pos"]
        assert cur["capture_micro"] >= prev["capture_micro"]
    assert rows[-1]["capture_micro"] == 1_000_000
    # the bottom row's lift is exactly 1 (whole population)
    assert rows[-1]["lift_micro"] == 1_000_000


def test_fertility_ratio_bounds(spark, sf_dir):
    rows = text_tokenizer_fertility(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the BPE-ish pretokenizer never merges across whitespace, so
        # every whitespace word contributes >= 1 token
        assert r["n_tokens"] >= r["n_words"]
        assert r["fertility_micro"] >= 1_000_000
        # a token costs at least one byte
        assert r["n_bytes"] >= r["n_tokens"]
        assert r["bytes_per_token_micro"] >= 1_000_000
        # exact integer division cross-check
        assert r["fertility_micro"] == (1_000_000 * r["n_tokens"]) // r["n_words"]
        assert (
            r["bytes_per_token_micro"]
            == (1_000_000 * r["n_bytes"]) // r["n_tokens"]
        )
