"""Invariant tests for the r6 ops.  The oracle-parity suite covers
cross-engine hash equality; these pin the statistical/algorithmic
semantics independently, against pure-Python reference computations
on collected inputs (small at the test SF)."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from parquet_batch_spark.catalog import load
from parquet_batch_spark.operators.pipeline_ops import (
    NULLITY_BIG_ORDER,
    quality_nullity_patterns,
)
from parquet_batch_spark.operators.stats.ml import (
    ISO_BINS,
    ml_isotonic_calibration,
    ml_mcc_balanced_accuracy,
)
from parquet_batch_spark.operators.llm_prep import (
    CARTO_CONF_HI,
    CARTO_EPOCHS,
    CARTO_VAR_HI,
    CURRICULUM_TAKE,
    DOREMI_ETA_MICRO,
    DOREMI_SMOOTH_MICRO,
    sample_dataset_cartography,
    sample_doremi_proxy_weights,
    seq_curriculum_order,
)
from parquet_batch_spark.operators.stats.window import (
    PH_DELTA_CENTS,
    PH_LAMBDA_CENTS,
    window_page_hinkley_drift,
)
from parquet_batch_spark.operators.text_analysis import (
    WIMBD_TOPK,
    quality_wimbd_top_ngrams,
)


def _doc_rows(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .collect()
    )


def test_mcc_matches_python_confusion(spark, sf_dir):
    rows = _doc_rows(spark, sf_dir)
    tp = fp = fn = tn = 0
    for r in rows:
        y = 1 if "data" in r["text"].strip().split() else 0
        p = 1 if r["n_chars"] >= 300 else 0
        if y and p:
            tp += 1
        elif not y and p:
            fp += 1
        elif y and not p:
            fn += 1
        else:
            tn += 1
    got = ml_mcc_balanced_accuracy(spark, sf_dir).collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    denom = math.sqrt(float((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)))
    assert got["mcc_micro"] == math.floor(1e6 * (tp * tn - fp * fn) / denom)
    # truncating integer division (Spark div semantics; all terms >= 0)
    bal = (1_000_000 * tp * (tn + fp) + 1_000_000 * tn * (tp + fn)) // (
        2 * (tp + fn) * (tn + fp)
    )
    assert got["balanced_accuracy_micro"] == bal
    j = 1_000_000 * tp // (tp + fn) + 1_000_000 * tn // (tn + fp) - 1_000_000
    assert got["youden_j_micro"] == j


def test_isotonic_fit_is_monotone_and_matches_pava(spark, sf_dir):
    rows = _doc_rows(spark, sf_dir)
    bins: dict[int, list[int]] = {}
    for r in rows:
        s = min(1_000_000, 1_000_000 * r["n_chars"] // 3000)
        b = s * ISO_BINS // 1_000_001
        y = 1 if "data" in r["text"].strip().split() else 0
        bins.setdefault(b, []).append(y)
    order = sorted(bins)
    n = [len(bins[b]) for b in order]
    pos = [sum(bins[b]) for b in order]
    # classic PAVA with weighted pools
    pools: list[list[float]] = []  # [sum_pos, sum_n]
    for p, w in zip(pos, n):
        pools.append([float(p), float(w)])
        while len(pools) > 1 and (
            pools[-2][0] * pools[-1][1] >= pools[-1][0] * pools[-2][1]
        ):
            a = pools.pop()
            pools[-1][0] += a[0]
            pools[-1][1] += a[1]
    # expand pools back to per-bin fits
    fit = []
    i = 0
    for pool in pools:
        w = pool[1]
        consumed = 0.0
        while consumed < w - 1e-9:
            fit.append(pool[0] / pool[1])
            consumed += n[i]
            i += 1
    got = {
        r["bin"]: r
        for r in ml_isotonic_calibration(spark, sf_dir).collect()
    }
    assert sorted(got) == order
    prev = -1
    for b, f in zip(order, fit):
        iso = got[b]["isotonic_micro"]
        # minimax == PAVA (floors can differ by at most the float ulp
        # of identical pool means — they are the same rational)
        assert iso == math.floor(1e6 * f), (b, iso, f)
        assert iso >= prev, "isotonic fit must be non-decreasing"
        prev = iso
        assert got[b]["n"] == n[order.index(b)]


def test_nullity_patterns_account_every_customer(spark, sf_dir):
    c = load(spark, sf_dir, "customer").count()
    ev_users = {
        r[0]
        for r in load(spark, sf_dir, "events").select("user_id").distinct().collect()
    }
    big_cust = {
        r[0]
        for r in load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= NULLITY_BIG_ORDER)
        .select("o_custkey")
        .distinct()
        .collect()
    }
    cust = [
        r[0]
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
    ]
    expect = Counter(
        (1 if k in ev_users else 0, 1 if k in big_cust else 0) for k in cust
    )
    rows = quality_nullity_patterns(spark, sf_dir).collect()
    assert sum(r["n_customers"] for r in rows) == c
    for r in rows:
        assert r["n_customers"] == expect[(r["has_events"], r["has_big_order"])]
        assert r["n_total"] == c
        assert r["share_micro"] == 1_000_000 * r["n_customers"] // c
    # both optional fields must actually be missing somewhere (the op
    # is vacuous otherwise)
    assert any(r["has_events"] == 0 for r in rows)
    assert any(r["has_events"] == 1 for r in rows)


def test_wimbd_top_ngrams_matches_python_counts(spark, sf_dir):
    rows = _doc_rows(spark, sf_dir)
    counts: Counter[str] = Counter()
    docs: dict[str, set] = {}
    total = 0
    for r in rows:
        toks = r["text"].strip().split()
        total += max(len(toks) - 2, 0)
        for i in range(len(toks) - 2):
            g = " ".join(toks[i : i + 3])
            counts[g] += 1
            docs.setdefault(g, set()).add(r["doc_id"])
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:WIMBD_TOPK]
    got = quality_wimbd_top_ngrams(spark, sf_dir).collect()
    assert len(got) == min(WIMBD_TOPK, len(counts))
    for row, (g, cnt) in zip(got, top):
        assert row["gram"] == g
        assert row["n_occurrences"] == cnt
        assert row["n_docs"] == len(docs[g])
        assert row["n_total_positions"] == total
        assert row["share_micro"] == 1_000_000 * cnt // total


def _trunc_div(a: int, b: int) -> int:
    """Spark div / DuckDB // semantics: truncation toward zero."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _doc_loss_rows(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text", "n_chars")
        .collect()
    )


def test_doremi_weights_match_python_mw_round(spark, sf_dir):
    rows = _doc_loss_rows(spark, sf_dir)
    sums: dict[str, int] = {}
    cnts: dict[str, int] = {}
    for r in rows:
        n_tok = max(len(r["text"].strip().split()), 1)
        loss = 1_000_000 * r["n_chars"] // n_tok
        sums[r["source"]] = sums.get(r["source"], 0) + loss
        cnts[r["source"]] = cnts.get(r["source"], 0) + 1
    ref = sum(sums.values()) // sum(cnts.values())
    k = len(sums)
    w = {
        s: (1_000_000 * (1_000_000 + DOREMI_ETA_MICRO * max(sums[s] // cnts[s] - ref, 0)))
        // 1_000_000
        for s in sums
    }
    w_total = sum(w.values())
    got = {r["source"]: r for r in sample_doremi_proxy_weights(spark, sf_dir).collect()}
    assert sorted(got) == sorted(sums)
    for s, row in got.items():
        assert row["n_docs"] == cnts[s]
        assert row["loss_micro"] == sums[s] // cnts[s]
        assert row["excess_micro"] == max(sums[s] // cnts[s] - ref, 0)
        alpha = ((1_000_000 - DOREMI_SMOOTH_MICRO) * w[s]) // w_total + (
            DOREMI_SMOOTH_MICRO // k
        )
        assert row["alpha_micro"] == alpha
    # weights sum to ~1e6 (floor losses only) and hard domains rank higher
    tot = sum(r["alpha_micro"] for r in got.values())
    assert 1_000_000 - 2 * k <= tot <= 1_000_000
    by_excess = sorted(got.values(), key=lambda r: r["excess_micro"])
    assert by_excess[0]["alpha_micro"] <= by_excess[-1]["alpha_micro"]


def test_curriculum_order_interleaves_sources(spark, sf_dir):
    rows = seq_curriculum_order(spark, sf_dir).collect()
    assert len(rows) == CURRICULUM_TAKE
    positions = [r["position"] for r in rows]
    assert positions == sorted(positions)
    assert len(set(positions)) == len(positions)
    # the first full round contains each source at most once, and
    # difficulty never decreases within a source
    seen_rank: dict[str, int] = {}
    last_diff: dict[str, int] = {}
    for r in rows:
        s = r["source"]
        assert r["rank_in_source"] >= seen_rank.get(s, -1)
        if s in last_diff and r["rank_in_source"] > seen_rank[s]:
            assert r["difficulty_micro"] >= last_diff[s]
        seen_rank[s] = r["rank_in_source"]
        last_diff[s] = r["difficulty_micro"]
    # round-robin: position p belongs to source p % n_sources
    n_sources = 1 + max(int(r["source"][3:]) for r in rows)
    for r in rows:
        assert int(r["source"][3:]) == r["position"] % n_sources
        assert r["rank_in_source"] == r["position"] // n_sources


def test_cartography_regions_partition_corpus(spark, sf_dir):
    import hashlib

    rows = _doc_loss_rows(spark, sf_dir)
    expect: Counter[str] = Counter()
    for r in rows:
        base_half = min(1_000_000, 1_000_000 * r["n_chars"] // 3000) // 2
        confs = []
        for e in range(1, CARTO_EPOCHS + 1):
            h = int(
                hashlib.md5(f"carto{e}:{r['doc_id']}".encode()).hexdigest()[:8],
                16,
            )
            confs.append(base_half + h % 500_001)
        s1, s2 = sum(confs), sum(c * c for c in confs)
        mean = s1 // CARTO_EPOCHS
        var_e2 = CARTO_EPOCHS * s2 - s1 * s1
        variability = math.floor(math.sqrt(float(var_e2))) // CARTO_EPOCHS
        if variability >= CARTO_VAR_HI:
            expect["ambiguous"] += 1
        elif mean >= CARTO_CONF_HI:
            expect["easy"] += 1
        else:
            expect["hard"] += 1
    got = {r["region"]: r for r in sample_dataset_cartography(spark, sf_dir).collect()}
    assert sum(r["n_docs"] for r in got.values()) == len(rows)
    for region, n in expect.items():
        assert got[region]["n_docs"] == n


def test_page_hinkley_matches_python_recurrence(spark, sf_dir):
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("vc").alias("x"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in ev:
        series.setdefault(r["event_type"], []).append((r["day"], r["x"]))
    got = {r["event_type"]: r for r in window_page_hinkley_drift(spark, sf_dir).collect()}
    assert sorted(got) == sorted(series)
    for et, pts in series.items():
        pts.sort()
        m = 0
        cx = 0
        mn = 0
        max_ph = None
        first_alarm = None
        for t, (day, x) in enumerate(pts, start=1):
            cx += x
            m += x - _trunc_div(cx, t) - PH_DELTA_CENTS
            mn = min(mn, m) if t > 1 else m
            ph = m - mn
            max_ph = ph if max_ph is None else max(max_ph, ph)
            if ph > PH_LAMBDA_CENTS and first_alarm is None:
                first_alarm = day
        row = got[et]
        assert row["n_days"] == len(pts)
        assert row["max_ph_cents"] == max_ph
        assert row["first_alarm_day"] == first_alarm
        assert row["drift_detected"] == (1 if first_alarm is not None else 0)


def test_bbit_minhash_bounds_and_estimators(spark, sf_dir):
    from parquet_batch_spark.operators.dedup import (
        BBIT_MOD,
        N_HASHES,
        dedup_minhash_b_bit,
    )

    rows = dedup_minhash_b_bit(spark, sf_dir).collect()
    assert rows, "LSH candidates must exist at the test SF"
    for r in rows:
        # a full-slot match implies a low-bit match
        assert 0 <= r["m_full"] <= r["m_bbit"] <= N_HASHES
        assert r["est_full_micro"] == 1_000_000 * r["m_full"] // N_HASHES
        expect = max(
            _trunc_div(
                1_000_000 * (BBIT_MOD * r["m_bbit"] - N_HASHES),
                (BBIT_MOD - 1) * N_HASHES,
            ),
            0,
        )
        assert r["est_bbit_micro"] == expect
    # the unbiased b-bit estimator tracks the full estimator corpus-wide
    mean_b = sum(r["est_bbit_micro"] for r in rows) / len(rows)
    mean_f = sum(r["est_full_micro"] for r in rows) / len(rows)
    assert abs(mean_b - mean_f) < 250_000, (mean_b, mean_f)


def test_geometric_median_matches_python_weiszfeld(spark, sf_dir):
    from parquet_batch_spark.operators.similarity import (
        GM_ITERS,
        GM_W_SCALE,
        embedding_geometric_median,
    )

    xs = [
        [int(round(float(v) * 1_000_000)) for v in r["embedding"]]
        for r in load(spark, sf_dir, "embeddings").select("embedding").collect()
    ]
    dims = len(xs[0])
    n = len(xs)
    mean = [
        _trunc_div(sum(x[d] for x in xs), n) for d in range(dims)
    ]
    c = list(mean)
    for _ in range(GM_ITERS):
        num = [0] * dims
        den = 0
        for x in xs:
            d2 = sum((x[d] - c[d]) ** 2 for d in range(dims))
            w = _trunc_div(GM_W_SCALE, max(math.floor(math.sqrt(float(d2))), 1))
            den += w
            for d in range(dims):
                num[d] += w * x[d]
        c = [_trunc_div(num[d], den) for d in range(dims)]
    got = embedding_geometric_median(spark, sf_dir).collect()
    assert len(got) == dims
    for r in got:
        d = r["dim"] - 1
        assert r["mean_micro"] == mean[d]
        assert r["median_micro"] == c[d], (r["dim"], r["median_micro"], c[d])
        assert r["shift_micro"] == abs(c[d] - mean[d])
    # robustness: the median's L1-of-L2 objective must not exceed the
    # mean's (Weiszfeld descends from the mean init)
    def objective(center):
        return sum(
            math.sqrt(float(sum((x[d] - center[d]) ** 2 for d in range(dims))))
            for x in xs
        )

    assert objective(c) <= objective(mean) * 1.0001


def test_analyze_table_stats_match_relational_counts(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import (
        _ANALYZE_COLS,
        etl_analyze_table_stats,
    )

    nation = load(spark, sf_dir, "nation")
    got = {r["col_name"]: r for r in etl_analyze_table_stats(spark, sf_dir).collect()}
    assert sorted(got) == sorted(_ANALYZE_COLS)
    for col in _ANALYZE_COLS:
        expect_distinct = nation.select(col).distinct().count()
        expect_nulls = nation.filter(F.col(col).isNull()).count()
        assert got[col]["distinct_count"] == expect_distinct
        assert got[col]["num_nulls"] == expect_nulls


def test_schema_evolution_nulls_only_in_old_generation(spark, sf_dir):
    from parquet_batch_spark.operators.sources_ext import scan_schema_evolution

    o = load(spark, sf_dir, "orders")
    n_even = o.filter(F.col("o_orderkey") % 2 == 0).count()
    n_odd = o.filter(F.col("o_orderkey") % 2 == 1).count()
    rows = {r["gen"]: r for r in scan_schema_evolution(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2]
    assert rows[1]["n_rows"] == n_even
    assert rows[2]["n_rows"] == n_odd
    # the evolved column is ALL NULL in gen-1 files, fully present in gen 2
    assert rows[1]["n_priority_present"] == 0
    assert rows[1]["n_priorities"] == 0
    assert rows[2]["n_priority_present"] == n_odd
    assert rows[2]["n_priorities"] > 0


def test_rho_loss_selection_matches_python(spark, sf_dir):
    import hashlib

    from parquet_batch_spark.operators.llm_prep import (
        RHO_HOLDOUT_MOD,
        sample_rho_loss_selection,
    )

    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text", "n_chars")
        .collect()
    )
    hsum: dict[str, int] = {}
    hcnt: dict[str, int] = {}
    scored = []
    for r in rows:
        n_tok = max(len(r["text"].strip().split()), 1)
        loss = 1_000_000 * r["n_chars"] // n_tok
        fold = (
            int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
            % RHO_HOLDOUT_MOD
        )
        scored.append((r["source"], r["lang"], fold, loss))
        if fold == 0:
            hsum[r["lang"]] = hsum.get(r["lang"], 0) + loss
            hcnt[r["lang"]] = hcnt.get(r["lang"], 0) + 1
    base = {lg: hsum[lg] // hcnt[lg] for lg in hsum}
    agg: dict[str, list] = {}
    for src, lg, fold, loss in scored:
        if fold == 0 or lg not in base:
            continue
        red = loss - base[lg]
        a = agg.setdefault(src, [0, 0, 0])
        a[0] += 1
        if red > 0:
            a[1] += 1
            a[2] += red
    got = {r["source"]: r for r in sample_rho_loss_selection(spark, sf_dir).collect()}
    assert sorted(got) == sorted(agg)
    for src, (n, sel, red_sum) in agg.items():
        row = got[src]
        assert row["n_train_docs"] == n
        assert row["n_selected"] == sel
        assert row["selected_share_micro"] == 1_000_000 * sel // n
        expect_mean = red_sum // sel if sel else 0
        assert row["mean_selected_reducible_micro"] == expect_mean
    # the rule must actually select a strict, non-empty subset somewhere
    assert any(r["n_selected"] > 0 for r in got.values())
    assert any(r["n_selected"] < r["n_train_docs"] for r in got.values())


def test_hits_bipartite_matches_python_iterations(spark, sf_dir):
    from parquet_batch_spark.operators.corpus_ops import (
        HITS_ITERS,
        HITS_SCALE,
        HITS_TOPK,
        HITS_VOCAB,
        graph_hits_bipartite,
    )

    rows = (
        load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    doc_toks = {r["doc_id"]: set(r["text"].strip().split()) for r in rows}
    df: Counter[str] = Counter()
    for toks in doc_toks.values():
        df.update(toks)
    vocab = [
        w for w, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_VOCAB]
    ]
    vset = set(vocab)
    edges = [
        (d, w) for d, toks in doc_toks.items() for w in toks if w in vset
    ]
    a = {w: HITS_SCALE for w in vocab}
    for _ in range(HITS_ITERS):
        h_raw: dict[int, int] = {}
        for d, w in edges:
            h_raw[d] = h_raw.get(d, 0) + a[w]
        hm = max(h_raw.values())
        h = {d: v * HITS_SCALE // hm for d, v in h_raw.items()}
        a_raw: dict[str, int] = {}
        for d, w in edges:
            a_raw[w] = a_raw.get(w, 0) + h[d]
        am = max(a_raw.values())
        a = {w: v * HITS_SCALE // am for w, v in a_raw.items()}
    expect = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPK]
    got = graph_hits_bipartite(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for row, (w, score) in zip(got, expect):
        assert row["token"] == w
        assert row["authority_fp"] == score
        assert row["df"] == df[w]
    # max-normalization invariant: the top authority sits at SCALE
    assert got[0]["authority_fp"] == HITS_SCALE


def test_holt_linear_trend_matches_python_recurrence(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import (
        HOLT_FORECAST_H,
        window_holt_linear_trend,
    )

    monthly = (
        load(spark, sf_dir, "orders")
        .select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mk"),
            F.floor("o_totalprice").cast("long").alias("yd"),
        )
        .groupBy("mk")
        .agg(F.sum("yd").alias("x"))
        .collect()
    )
    series = sorted((r["mk"], r["x"]) for r in monthly)
    l = series[0][1]
    b = 0
    expect = [(1, series[0][0], series[0][1], l, b, 0)]
    for t, (mk, x) in enumerate(series[1:], start=2):
        e = x - (l + b)
        l_new = _trunc_div(x + 3 * (l + b), 4)
        b = _trunc_div(l_new - l + 3 * b, 4)
        l = l_new
        expect.append((t, mk, x, l, b, e))
    got = window_holt_linear_trend(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for row, (t, mk, x, l_, b_, e_) in zip(got, expect):
        assert row["month_idx"] == t
        assert row["month_key"] == mk
        assert row["revenue"] == x
        assert row["level"] == l_, (t, row["level"], l_)
        assert row["trend"] == b_
        assert row["fit_error"] == e_
        assert row[f"forecast_h{HOLT_FORECAST_H}"] == l_ + HOLT_FORECAST_H * b_


def test_empirical_bayes_shrinks_toward_prior(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_descriptive import (
        EB_M_CAP,
        agg_empirical_bayes_shrinkage,
    )

    rows = agg_empirical_bayes_shrinkage(spark, sf_dir).collect()
    assert len(rows) == 25
    pbar = rows[0]["pbar_micro"]
    m = rows[0]["prior_strength_m"]
    assert 0 <= m <= EB_M_CAP
    for r in rows:
        assert r["pbar_micro"] == pbar and r["prior_strength_m"] == m
        assert r["raw_rate_micro"] == 1_000_000 * r["n_fulfilled"] // r["n_orders"]
        expect = (1_000_000 * r["n_fulfilled"] + m * pbar) // (
            r["n_orders"] + m
        )
        assert r["shrunk_rate_micro"] == expect
        # shrinkage: the posterior rate sits between raw and prior
        lo, hi = sorted((r["raw_rate_micro"], pbar))
        assert lo - 1 <= r["shrunk_rate_micro"] <= hi + 1
    # the estimated prior strength must actually shrink SOMETHING
    assert any(r["shrunk_rate_micro"] != r["raw_rate_micro"] for r in rows)


def test_dictionary_audit_footer_matches_construction(spark, sf_dir):
    from parquet_batch_spark.operators.scale_ops import (
        _DICT_COLS,
        _DICT_ON,
        DICT_NDV_RATIO_MAX,
        scan_dictionary_encoding_audit,
    )

    d = load(spark, sf_dir, "documents")
    n = d.count()
    got = {r["col_name"]: r for r in scan_dictionary_encoding_audit(spark, sf_dir).collect()}
    assert sorted(got) == sorted(_DICT_COLS)
    for c in _DICT_COLS:
        row = got[c]
        ndv = d.select(c).distinct().count()
        assert row["n_rows"] == n
        assert row["ndv"] == ndv
        assert row["ndv_ratio_micro"] == 1_000_000 * ndv // n
        assert row["dict_used"] == (1 if c in _DICT_ON else 0)
        assert row["dict_recommended"] == (
            1 if 1_000_000 * ndv // n <= DICT_NDV_RATIO_MAX else 0
        )
        assert row["agreement"] == int(row["dict_used"] == row["dict_recommended"])
    # the audit must exercise BOTH paths: an agree and a disagree row
    assert any(r["agreement"] == 0 for r in got.values())
    assert any(r["agreement"] == 1 for r in got.values())


def test_facility_location_matches_python_greedy(spark, sf_dir):
    from parquet_batch_spark.operators.similarity import (
        FL_CANDS,
        FL_ROUNDS,
        sample_facility_location,
    )

    def _fl_hash_order(ids, rnd):
        # independent python replica of the per-round candidate order
        # (md5('fl{round}:{id}') first 8 hex chars, id-tiebroken) —
        # the engine draws it DISTRIBUTED since r7 (_fl_candidates)
        import hashlib

        return sorted(
            ids,
            key=lambda i: (
                int(hashlib.md5(f"fl{rnd}:{i}".encode()).hexdigest()[:8], 16),
                i,
            ),
        )

    rows = (
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    vec = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    ids = sorted(vec)

    def dot_micro(a, b):
        return math.floor(1e6 * sum(x * y for x, y in zip(a, b)))

    selected = []
    coverage = 0
    expect = []
    for rnd in range(FL_ROUNDS):
        cands = [c for c in _fl_hash_order(ids, rnd) if c not in {s for s, _ in selected}][:FL_CANDS]
        best = None
        for c in cands:
            g = 0
            for i in ids:
                sim = dot_micro(vec[i], vec[c])
                cov = max(
                    [dot_micro(vec[i], sv) for _s, sv in selected] + [0]
                )
                g += max(sim - cov, 0)
            if best is None or (g, -c) > (best[0], -best[1]):
                best = (g, c)
        selected.append((best[1], vec[best[1]]))
        coverage += best[0]
        expect.append((rnd, best[1], best[0], coverage))
    got = sample_facility_location(spark, sf_dir).collect()
    assert [(r["round"], r["selected_id"], r["gain_micro"], r["coverage_micro"]) for r in got] == expect
    # submodularity: marginal gains are non-increasing
    gains = [r["gain_micro"] for r in got]
    assert all(gains[i] >= gains[i + 1] for i in range(len(gains) - 1))


def test_snapshot_diff_accounts_every_key(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import (
        DIFF_CHANGE,
        DIFF_DROP_A,
        DIFF_DROP_B,
        etl_snapshot_diff_audit,
    )

    keys = [
        int(r["o_orderkey"])
        for r in load(spark, sf_dir, "orders").select("o_orderkey").collect()
    ]
    expect = Counter()
    for k in keys:
        in_a = k % 10 != DIFF_DROP_A
        in_b = k % 10 != DIFF_DROP_B
        if in_a and in_b:
            expect["changed" if k % DIFF_CHANGE == 0 else "unchanged"] += 1
        elif in_b:
            expect["added"] += 1
        elif in_a:
            expect["removed"] += 1
    got = {r["status"]: r for r in etl_snapshot_diff_audit(spark, sf_dir).collect()}
    assert sorted(got) == sorted(expect)
    for status, n in expect.items():
        assert got[status]["n_keys"] == n
    # every changed key contributes exactly +1 cent; unchanged nets 0
    assert got["changed"]["delta_cents"] == expect["changed"]
    assert got["unchanged"]["delta_cents"] == 0
    assert got["added"]["delta_cents"] > 0
    assert got["removed"]["delta_cents"] < 0
