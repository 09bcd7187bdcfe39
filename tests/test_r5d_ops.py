"""Invariant tests for the r5 fourth-session ops.  The oracle-parity
suite covers cross-engine hash equality; these pin the statistical
semantics independently (against scipy-free closed forms computed in
pure Python on collected reductions)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from parquet_batch_spark.operators.stats.agg_inference import (
    ANOVA_PRIORITIES,
    CUPED_SPLIT_DATE,
    TUKEY_Q_CRIT,
    agg_cuped_variance_reduction,
    agg_kruskal_wallis,
    agg_tukey_hsd,
)
from parquet_batch_spark.catalog import load


def _rankdata(values: list[float]) -> list[float]:
    """Average-rank (tie-aware) ranking, 1-based — pure Python."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    ranks = [0.0] * len(values)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and values[order[j + 1]] == values[order[i]]:
            j += 1
        avg = (i + j) / 2.0 + 1.0
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


def test_kruskal_wallis_matches_python_reference(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.col("o_orderpriority").alias("g"),
    )
    rows = o.collect()
    values = [r["v"] for r in rows]
    groups = [r["g"] for r in rows]
    ranks = _rankdata(values)
    n = len(values)
    # per-group rank sums
    rsum: dict[str, float] = {}
    cnt: dict[str, int] = {}
    for g, r in zip(groups, ranks):
        rsum[g] = rsum.get(g, 0.0) + r
        cnt[g] = cnt.get(g, 0) + 1
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / cnt[g] for g in ANOVA_PRIORITIES
    ) - 3.0 * (n + 1)
    # tie correction
    from collections import Counter

    tie3 = sum(t**3 - t for t in Counter(values).values())
    c = 1.0 - tie3 / (n**3 - n)
    got = agg_kruskal_wallis(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n
    assert got["df"] == len(ANOVA_PRIORITIES) - 1
    assert math.isclose(got["h_stat"], h, rel_tol=1e-6, abs_tol=1e-5)
    assert math.isclose(got["tie_correction"], c, rel_tol=1e-9)
    assert math.isclose(got["h_adjusted"], h / c, rel_tol=1e-6, abs_tol=1e-5)
    assert got["significant"] == (h / c > 9.487729)


def test_tukey_hsd_pairs_and_msw(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.col("o_orderpriority").alias("g"),
    )
    rows = o.collect()
    by_g: dict[str, list[int]] = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(r["v"])
    k = len(ANOVA_PRIORITIES)
    n = len(rows)
    ssw = sum(
        sum(v * v for v in vs) - sum(vs) ** 2 / len(vs)
        for vs in by_g.values()
    )
    msw = ssw / (n - k)
    got = agg_tukey_hsd(spark, sf_dir).collect()
    assert len(got) == k * (k - 1) // 2  # all 10 unordered pairs
    seen = set()
    for row in got:
        a, b = row["group_a"], row["group_b"]
        assert a < b  # canonical order, no duplicate/reversed pairs
        seen.add((a, b))
        ma = sum(by_g[a]) / len(by_g[a])
        mb = sum(by_g[b]) / len(by_g[b])
        q = abs(ma - mb) / math.sqrt(
            msw / 2.0 * (1.0 / len(by_g[a]) + 1.0 / len(by_g[b]))
        )
        assert math.isclose(row["mean_diff"], ma - mb, abs_tol=1e-5)
        assert math.isclose(row["q_stat"], q, rel_tol=1e-6, abs_tol=1e-5)
        assert row["significant"] == (q > TUKEY_Q_CRIT)
    assert len(seen) == k * (k - 1) // 2


def test_cuped_matches_python_reference(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        (F.col("o_orderdate").cast("date") < F.lit(CUPED_SPLIT_DATE)).alias(
            "pre"
        ),
        F.floor("o_totalprice").cast("long").alias("v"),
    )
    pre: dict[int, int] = {}
    post: dict[int, int] = {}
    for r in o.collect():
        d = pre if r["pre"] else post
        d[r["c"]] = d.get(r["c"], 0) + r["v"]
    custs = sorted(set(pre) | set(post))
    xs = [pre.get(c, 0) for c in custs]
    ys = [post.get(c, 0) for c in custs]
    n = len(custs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    theta = cov_n / varx_n
    rho2 = cov_n * cov_n / (varx_n * vary_n)
    got = agg_cuped_variance_reduction(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n
    assert math.isclose(got["theta"], theta, rel_tol=1e-6, abs_tol=1e-6)
    assert math.isclose(
        got["variance_reduction"], rho2, rel_tol=1e-6, abs_tol=1e-6
    )
    # the two derived readouts are consistent with rho2
    assert math.isclose(
        got["residual_variance_ratio"], 1.0 - rho2, abs_tol=2e-6
    )
    assert 0.0 <= got["variance_reduction"] <= 1.0


def test_average_precision_matches_python_reference(spark, sf_dir):
    """Replicate the micro-quantized step-function AP contract in
    pure Python from the raw (score, label) pairs."""
    from parquet_batch_spark.operators.stats.common import ECE_SCALE_CHARS
    from parquet_batch_spark.operators.stats.ml import ml_average_precision
    from parquet_batch_spark.functions.text import tokens_col

    d = load(spark, sf_dir, "documents").select(
        F.least(
            F.lit(1_000_000),
            F.expr(f"(1000000 * n_chars) div {ECE_SCALE_CHARS}"),
        ).alias("s"),
        F.array_contains(tokens_col("text"), "data")
        .cast("int")
        .alias("y"),
    )
    from collections import defaultdict

    blocks: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in d.collect():
        blocks[r["s"]][0] += 1
        blocks[r["s"]][1] += r["y"]
    n = sum(b[0] for b in blocks.values())
    n_pos = sum(b[1] for b in blocks.values())
    cum_n = cum_p = 0
    sum_contrib = 0
    for s in sorted(blocks, reverse=True):
        n_k, p_k = blocks[s]
        cum_n += n_k
        cum_p += p_k
        sum_contrib += (1_000_000 * p_k * cum_p) // cum_n
    got = ml_average_precision(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n and got["n_pos"] == n_pos
    assert got["ap_micro"] == sum_contrib // n_pos
    assert got["prevalence_micro"] == (1_000_000 * n_pos) // n
    # AP of a better-than-random ranker beats prevalence
    assert got["ap_micro"] >= got["prevalence_micro"]


def test_markov_stationary_fixed_point_properties(spark, sf_dir):
    """Replicate the integer power iteration in pure Python from the
    collected transition counts; check mass conservation."""
    from parquet_batch_spark.operators.stats.seq import (
        MS_ITERS,
        MS_SCALE,
        seq_markov_stationary,
        seq_transition_matrix,
    )

    counts = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in seq_transition_matrix(spark, sf_dir).collect()
    }
    states = sorted({f for f, _ in counts})
    kept = {
        (f, t): c for (f, t), c in counts.items() if t in set(states)
    }
    ci = {f: sum(c for (ff, _), c in kept.items() if ff == f) for f in states}
    p_fp = {
        (f, t): (c * MS_SCALE) // ci[f] for (f, t), c in kept.items()
    }
    pi = {s: MS_SCALE // len(states) for s in states}
    for _ in range(MS_ITERS):
        nxt = {s: 0 for s in states}
        for (f, t), p in p_fp.items():
            nxt[t] += (pi[f] * p) // MS_SCALE
        pi = nxt
    got = {
        r["state"]: r["pi_fp"]
        for r in seq_markov_stationary(spark, sf_dir).collect()
    }
    assert got == pi
    # truncating fixed-point loses mass but never gains it
    assert sum(got.values()) <= MS_SCALE
    assert sum(got.values()) >= MS_SCALE - MS_ITERS * (
        len(states) * len(states) + len(states)
    )


def test_atr_matches_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import ATR_WINDOW, window_average_true_range
    from parquet_batch_spark.operators.analytics import rollup_ohlc_bars  # noqa: F401

    ev = load(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    ).collect()
    bars: dict[tuple, dict] = {}
    for r in rows:
        k = (r["event_type"], r["day"])
        b = bars.setdefault(
            k, {"high": r["value"], "low": r["value"], "close": None, "mx": None}
        )
        b["high"] = max(b["high"], r["value"])
        b["low"] = min(b["low"], r["value"])
        key = (r["us"], r["event_id"])
        if b["mx"] is None or key > b["mx"]:
            b["mx"] = key
            b["close"] = r["value"]
    import math

    expected = {}
    for et in sorted({k[0] for k in bars}):
        days = sorted(k[1] for k in bars if k[0] == et)
        trs = []
        for i, day in enumerate(days):
            b = bars[(et, day)]
            if i == 0:
                # no prev close: GREATEST ignores the NULL gap terms in
                # both engines, so day 0's TR is the plain range —
                # the standard first-bar ATR convention
                tr = b["high"] - b["low"]
            else:
                pc = bars[(et, days[i - 1])]["close"]
                tr = max(
                    b["high"] - b["low"],
                    abs(b["high"] - pc),
                    abs(b["low"] - pc),
                )
            trs.append((day, math.floor(1_000_000.0 * tr)))
        for i in range(ATR_WINDOW - 1, len(trs)):
            window = [t for _, t in trs[i - ATR_WINDOW + 1 : i + 1]]
            expected[(et, trs[i][0])] = sum(window) // len(window)
    got = {
        (r["event_type"], r["day"]): r["atr_micro"]
        for r in window_average_true_range(spark, sf_dir).collect()
    }
    assert got == expected


def test_execute_immediate_matches_static_sql(spark, sf_dir):
    from parquet_batch_spark.operators.scalar_funcs import sql_execute_immediate

    got = [tuple(r) for r in sql_execute_immediate(spark, sf_dir).collect()]
    load(spark, sf_dir, "orders").createOrReplaceTempView("pbs_exec_chk")
    exp = [
        tuple(r)
        for r in spark.sql(
            """SELECT o_orderstatus, COUNT(*) AS n_orders,
                  CAST(SUM(CASE WHEN o_totalprice > 200000.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                  CAST(MIN(FLOOR(o_totalprice)) AS BIGINT) AS min_price_usd
           FROM pbs_exec_chk WHERE o_orderpriority <> '5-LOW'
           GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        ).collect()
    ]
    assert got == exp


def test_dp_laplace_noise_is_seeded_inverse_cdf(spark, sf_dir):
    """Reproduce the noise in pure Python from the md5-derived uniform
    and check the released count is exactly true + noise."""
    import hashlib

    from parquet_batch_spark.operators.pipeline_ops import (
        DP_EPSILON_MICRO,
        DP_SALT,
        privacy_dp_laplace_counts,
    )

    rows = privacy_dp_laplace_counts(spark, sf_dir).collect()
    assert rows
    b = 1e6 / DP_EPSILON_MICRO
    for r in rows:
        h = int(
            hashlib.md5(f"{r['lang']}|{DP_SALT}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 4294967296.0 - 0.5
        noise = -b * math.copysign(1.0, u) * math.log(1.0 - 2.0 * abs(u))
        assert math.isclose(r["noise"], round(noise, 6), abs_tol=1.1e-6)
        assert math.isclose(
            r["n_noisy"], round(r["n_true"] + noise, 6), abs_tol=1.1e-6
        )
        assert r["epsilon_micro"] == DP_EPSILON_MICRO


def test_rake_keywords_python_reference(spark, sf_dir):
    """Replicate RAKE end-to-end in pure Python (regex split, degree/
    freq word scores, phrase scores) and compare the top-k exactly."""
    import re
    from collections import defaultdict

    from parquet_batch_spark.operators.text_analysis import (
        RAKE_STOPWORDS,
        RAKE_TOPK,
        text_rake_keywords,
    )

    sep = re.compile(
        "(?:[^a-z ]|\\b(?:" + "|".join(RAKE_STOPWORDS) + ")\\b)+"
    )
    freq: dict[str, int] = defaultdict(int)
    deg: dict[str, int] = defaultdict(int)
    phr: dict[str, int] = defaultdict(int)
    phr_words: dict[str, list[str]] = {}
    for r in load(spark, sf_dir, "documents").select("text").collect():
        for piece in sep.split(r["text"].lower()):
            words = [w for w in piece.strip().split(" ") if w]
            if not words:
                continue
            phrase = " ".join(words)
            phr[phrase] += 1
            phr_words[phrase] = words
            for w in words:
                freq[w] += 1
                deg[w] += len(words)
    wscore = {w: (1_000_000 * deg[w]) // freq[w] for w in freq}
    scored = [
        (-sum(wscore[w] for w in phr_words[p]), p, phr[p], len(phr_words[p]))
        for p in phr
    ]
    scored.sort()
    exp = [
        (p, n_occ, n_words, -negscore)
        for negscore, p, n_occ, n_words in scored[:RAKE_TOPK]
    ]
    got = [
        (r["phrase"], r["n_occurrences"], r["n_words"], r["score_micro"])
        for r in text_rake_keywords(spark, sf_dir).collect()
    ]
    assert got == exp


def test_theil_index_python_reference(spark, sf_dir):
    """Replicate the quantized Theil computation and its decomposition
    in pure Python from the raw balances."""
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import THEIL_SEGMENTS, agg_theil_index

    rows = load(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.floor("c_acctbal").cast("long").alias("v"),
    ).collect()
    cnt: dict[tuple, int] = defaultdict(int)
    n_excluded = 0
    for r in rows:
        if r["v"] < 1:
            n_excluded += 1
        else:
            cnt[(r["seg"], r["v"])] += 1
    n = sum(cnt.values())
    sx = sum(c * v for (_, v), c in cnt.items())
    sxlnx = sum(
        c * math.floor(1e6 * float(v) * math.log(float(v)))
        for (_, v), c in cnt.items()
    )
    t_total = sxlnx / 1e6 / sx - math.log(sx / n)
    t_between = 0.0
    for s in THEIL_SEGMENTS:
        ns = sum(c for (g, _), c in cnt.items() if g == s)
        xs = sum(c * v for (g, v), c in cnt.items() if g == s)
        t_between += (xs / sx) * math.log((xs / sx) / (ns / n))
    got = agg_theil_index(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n and got["n_excluded"] == n_excluded
    assert math.isclose(got["theil_total"], t_total, abs_tol=2e-6)
    assert math.isclose(got["theil_between"], t_between, abs_tol=2e-6)
    assert math.isclose(
        got["theil_within"], t_total - t_between, abs_tol=2e-6
    )
    # inequality axioms: T >= 0; between-component cannot exceed total
    assert got["theil_total"] >= 0
    assert got["theil_between"] <= got["theil_total"] + 1e-9


def test_hurst_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import HURST_LAGS, window_hurst_exponent

    daily_rows = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily_rows]
    means = {}
    for n in HURST_LAGS:
        lnrs = []
        for c0 in range(0, len(xs) - n + 1, n):
            chunk = xs[c0 : c0 + n]
            s = sum(chunk)
            q = sum(v * v for v in chunk)
            cum = 0
            devs = []
            for j, v in enumerate(chunk, start=1):
                cum += v
                devs.append(n * cum - j * s)
            r_scaled = max(devs) - min(devs)
            var_scaled = n * q - s * s
            if r_scaled > 0 and var_scaled > 0:
                lnrs.append(
                    math.floor(
                        1e6 * math.log(r_scaled / math.sqrt(var_scaled))
                    )
                )
        means[n] = (len(lnrs), sum(lnrs) // len(lnrs))
    lns = {n: math.log(float(n)) for n in HURST_LAGS}
    ln_mean = sum(lns.values()) / len(HURST_LAGS)
    denom = sum((lv - ln_mean) ** 2 for lv in lns.values())
    hurst = sum(
        (lns[n] - ln_mean) / denom * means[n][1] / 1e6 for n in HURST_LAGS
    )
    got = window_hurst_exponent(spark, sf_dir).collect()
    assert len(got) == len(HURST_LAGS)
    for r in got:
        n_chunks, mean_micro = means[r["lag_n"]]
        assert r["n_chunks"] == n_chunks
        assert r["mean_lnrs_micro"] == mean_micro
        assert math.isclose(r["hurst"], round(hurst, 6), abs_tol=1.1e-6)


def test_benjamini_hochberg_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_inference import (
        _bh_thresholds,
        agg_benjamini_hochberg,
    )

    rows = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .join(
            load(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("c_nationkey"), "n_name"
            ),
            "c_nationkey",
        )
        .select("n_name", F.floor("o_totalprice").cast("long").alias("y"))
        .collect()
    )
    from collections import defaultdict

    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        a = agg[r["n_name"]]
        a[0] += 1
        a[1] += r["y"]
        a[2] += r["y"] * r["y"]
    n = sum(a[0] for a in agg.values())
    s = sum(a[1] for a in agg.values())
    q = sum(a[2] for a in agg.values())
    zs = {}
    for g, (ng, sg, qg) in agg.items():
        nr, sr, qr = n - ng, s - sg, q - qg
        mg, mr = sg / ng, sr / nr
        vg = (qg - ng * mg * mg) / (ng - 1)
        vr = (qr - nr * mr * mr) / (nr - 1)
        zs[g] = round((mg - mr) / math.sqrt(vg / ng + vr / nr), 6)
    order = sorted(zs, key=lambda g: (-abs(zs[g]), g))
    th = _bh_thresholds()
    raw = [abs(zs[g]) >= th[i] for i, g in enumerate(order)]
    max_pass = max((i + 1 for i, p in enumerate(raw) if p), default=0)
    got = agg_benjamini_hochberg(spark, sf_dir).collect()
    assert [r["n_name"] for r in got] == order
    for i, r in enumerate(got):
        assert r["rank"] == i + 1
        assert math.isclose(r["z"], zs[r["n_name"]], abs_tol=1.1e-6)
        assert r["z_crit"] == th[i]
        assert r["raw_pass"] == raw[i]
        assert r["bh_reject"] == (i + 1 <= max_pass)
    # step-up property: rejections form a prefix of the ranking
    flags = [r["bh_reject"] for r in got]
    assert flags == sorted(flags, reverse=True)


def test_textrank_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.text_analysis import (
        TR_DAMP_DEN,
        TR_DAMP_NUM,
        TR_ITERS,
        TR_SCALE,
        TR_TOPK,
        TR_VOCAB,
        text_textrank_keywords,
    )

    docs = [
        r["text"].strip().split()
        for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    freq: dict[str, int] = defaultdict(int)
    for toks in docs:
        for w in toks:
            freq[w] += 1
    vocab = set(
        sorted(freq, key=lambda w: (-freq[w], w))[:TR_VOCAB]
    )
    e_dir: dict[tuple, int] = defaultdict(int)
    for toks in docs:
        for a, b in zip(toks, toks[1:]):
            if a != b and a in vocab and b in vocab:
                e_dir[(a, b)] += 1
    edges: dict[tuple, int] = defaultdict(int)
    for (a, b), c in e_dir.items():
        edges[(a, b)] += c
        edges[(b, a)] += c
    ci: dict[str, int] = defaultdict(int)
    for (a, _), c in edges.items():
        ci[a] += c
    p_fp = {(a, b): (c * TR_SCALE) // ci[a] for (a, b), c in edges.items()}
    nodes = sorted(ci)
    base = (TR_SCALE * (TR_DAMP_DEN - TR_DAMP_NUM)) // (
        TR_DAMP_DEN * len(nodes)
    )
    r = {w: TR_SCALE // len(nodes) for w in nodes}
    for _ in range(TR_ITERS):
        s: dict[str, int] = defaultdict(int)
        for (a, b), p in p_fp.items():
            s[b] += (r[a] * p) // TR_SCALE
        r = {
            w: base + (TR_DAMP_NUM * s.get(w, 0)) // TR_DAMP_DEN
            for w in nodes
        }
    exp = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:TR_TOPK]
    got = [
        (row["word"], row["rank_fp"])
        for row in text_textrank_keywords(spark, sf_dir).collect()
    ]
    assert got == exp


def test_levene_brown_forsythe_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_inference import agg_levene_test

    rows = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect()
    by_g: dict[str, list[int]] = defaultdict(list)
    for r in rows:
        by_g[r["g"]].append(r["y"])
    devs: dict[str, list[int]] = {}
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        # lower median: smallest v with 2*cum >= n
        cum = 0
        med = None
        from collections import Counter

        for v, c in sorted(Counter(vs).items()):
            cum += c
            if 2 * cum >= n:
                med = v
                break
        devs[g] = [abs(v - med) for v in vs]
    k = len(devs)
    n = sum(len(v) for v in devs.values())
    ss = sum(sum(v) for v in devs.values())
    sg = sum(sum(v) ** 2 / len(v) for v in devs.values())
    qq = sum(sum(x * x for x in v) for v in devs.values())
    ssb = sg - ss * ss / n
    ssw = qq - sg
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    got = agg_levene_test(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n
    assert math.isclose(got["bf_stat"], f_stat, rel_tol=1e-6, abs_tol=1e-5)
    assert got["heteroscedastic"] == (f_stat > 2.372)


def test_theil_sen_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.window import window_theil_sen

    monthly: dict[int, int] = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect():
        monthly[(r["yr"] - 1970) * 12 + r["mo"] - 1] += r["y"]
    ms = sorted(monthly)
    slopes = []
    for i, a in enumerate(ms):
        for b in ms[i + 1 :]:
            dy = monthly[b] - monthly[a]
            dm = b - a
            q = (1_000_000 * dy) // dm
            if (1_000_000 * dy) % dm and dy < 0:
                q += 1  # engines truncate toward zero; python floors
            slopes.append(q)
    slopes.sort()
    n_pairs = len(slopes)
    # lower median: smallest s with 2*cum >= n_pairs
    med = slopes[(n_pairs - 1) // 2] if n_pairs % 2 else slopes[
        n_pairs // 2 - 1
    ]
    got = window_theil_sen(spark, sf_dir).collect()[0]
    assert got["n_months"] == len(ms)
    assert got["n_pairs"] == n_pairs
    assert got["sen_slope_micro"] == med
    assert got["trending_up"] == (med > 0)


def test_brier_decomposition_identity_and_bounds(spark, sf_dir):
    from parquet_batch_spark.operators.stats.ml import ml_brier_decomposition

    got = ml_brier_decomposition(spark, sf_dir).collect()[0]
    # all components are squared micro quantities: non-negative, <= 1e12
    for c in (
        "brier_micro2",
        "reliability_micro2",
        "resolution_micro2",
        "uncertainty_micro2",
    ):
        assert 0 <= got[c] <= 10**12, (c, got[c])
    # Murphy identity up to micro-truncation: each of the 4 terms
    # truncates at most 1 micro^2 per bucket plus the o_k/obar micro
    # grids contribute O(obar) slack
    assert abs(got["identity_gap_micro2"]) <= 2_000_000
    # binned Brier can never beat the uncertainty floor by more than
    # resolution: brier >= uncertainty - resolution (reliability >= 0)
    assert (
        got["brier_micro2"]
        >= got["uncertainty_micro2"] - got["resolution_micro2"] - 2_000_000
    )


def test_local_clustering_coefficient_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.corpus_ops import (
        graph_clustering_coefficient,
    )
    from parquet_batch_spark.operators.llm_prep import segment_edges

    adj: dict[int, set[int]] = defaultdict(set)
    for r in segment_edges(spark, sf_dir).collect():
        adj[r["a"]].add(r["b"])
        adj[r["b"]].add(r["a"])
    hist: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for v, nb in adj.items():
        deg = len(nb)
        if deg < 2:
            continue
        nbl = sorted(nb)
        t = sum(
            1
            for i, x in enumerate(nbl)
            for yy in nbl[i + 1 :]
            if yy in adj[x]
        )
        cc = (2_000_000 * t) // (deg * (deg - 1))
        d = min(9, cc // 100_000)
        hist[d][0] += 1
        hist[d][1] += cc
    exp = {
        d: (n, s // n) for d, (n, s) in hist.items()
    }
    got = {
        r["decile"]: (r["n_nodes"], r["mean_cc_micro"])
        for r in graph_clustering_coefficient(spark, sf_dir).collect()
    }
    assert got == exp


def test_fk_audit_orphan_accounting(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import etl_foreign_key_audit

    rows = {r["fk_edge"]: r for r in etl_foreign_key_audit(spark, sf_dir).collect()}
    assert len(rows) == 4
    # the three REAL edges are referentially intact in TPC-H data
    for e in (
        "lineitem.l_orderkey->orders",
        "orders.o_custkey->customer",
        "customer.c_nationkey->nation",
    ):
        assert rows[e]["n_orphan_rows"] == 0
        assert rows[e]["orphan_micro"] == 0
    # the deliberately stale snapshot edge must catch orphans
    stale = rows["orders.o_custkey->customer_stale_snapshot"]
    assert stale["n_orphan_rows"] > 0
    assert (
        stale["orphan_micro"]
        == (1_000_000 * stale["n_orphan_rows"]) // stale["n_rows"]
    )


def test_cochran_armitage_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_inference import (
        ANOVA_PRIORITIES,
        agg_cochran_armitage,
    )

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", (F.col("o_orderstatus") == "F").alias("f")
    ).collect()
    n_i = {p: 0 for p in ANOVA_PRIORITIES}
    r_i = {p: 0 for p in ANOVA_PRIORITIES}
    for r in rows:
        n_i[r["o_orderpriority"]] += 1
        r_i[r["o_orderpriority"]] += int(r["f"])
    s = {p: i + 1 for i, p in enumerate(ANOVA_PRIORITIES)}
    n = sum(n_i.values())
    rr = sum(r_i.values())
    t = sum(s[p] * (r_i[p] - n_i[p] * rr / n) for p in ANOVA_PRIORITIES)
    var = (
        (rr / n)
        * (1 - rr / n)
        * (
            sum(s[p] ** 2 * n_i[p] for p in ANOVA_PRIORITIES)
            - sum(s[p] * n_i[p] for p in ANOVA_PRIORITIES) ** 2 / n
        )
    )
    z = t / math.sqrt(var)
    got = agg_cochran_armitage(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n and got["n_success"] == rr
    assert math.isclose(got["z_trend"], z, rel_tol=1e-6, abs_tol=1e-5)
    assert got["significant"] == (abs(round(z, 6)) > 1.959964)


def test_sql_table_function_inlines_and_matches(spark, sf_dir):
    from parquet_batch_spark.operators.scalar_funcs import sql_table_function

    got = {
        (r["prio"], r["o_orderstatus"]): (r["n"], r["rev"])
        for r in sql_table_function(spark, sf_dir).collect()
    }
    exp_rows = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor("o_totalprice").cast("long")).alias("rev"),
        )
        .collect()
    )
    exp = {
        (r["o_orderpriority"], r["o_orderstatus"]): (r["n"], r["rev"])
        for r in exp_rows
    }
    assert got == exp


def test_text_lines_source_roundtrip_lossless(spark, sf_dir):
    import hashlib

    from parquet_batch_spark.operators.sources_ext import source_text_lines

    got = source_text_lines(spark, sf_dir).collect()[0]
    texts = [
        r["text"]
        for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    assert got["n_lines"] == len(texts)
    digest = hashlib.md5(
        "".join(
            sorted(hashlib.md5(t.encode()).hexdigest() for t in texts)
        ).encode()
    ).hexdigest()
    assert got["corpus_digest"] == digest


def test_horvitz_thompson_estimator_properties(spark, sf_dir):
    from parquet_batch_spark.operators.pipeline_ops import (
        PPS_K,
        sample_horvitz_thompson,
    )

    rows = sample_horvitz_thompson(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # systematic PPS draws ~K units (certainty units can add more)
        assert 1 <= r["n_sampled"] <= 3 * PPS_K
        # the estimate lands: Madow systematic PPS with a size measure
        # correlated to y keeps the estimator within a loose band
        assert r["rel_err_micro"] < 500_000, (r["lang"], r["rel_err_micro"])
        assert (
            r["rel_err_micro"]
            == (1_000_000 * abs(r["ht_tokens"] - r["true_tokens"]))
            // r["true_tokens"]
        )


def test_krippendorff_alpha_python_reference(spark, sf_dir):
    from collections import Counter

    from parquet_batch_spark.operators.stats.quality import quality_krippendorff_alpha

    multi = {
        "en": ["the", "a", "of", "and", "to"],
        "es": ["el", "la", "de", "que", "y"],
        "fr": ["le", "la", "les", "et", "une"],
        "de": ["der", "die", "das", "und", "ein"],
    }
    single = {"en": ["the"], "es": ["el"], "fr": ["les"], "de": ["der"]}

    def classify(toks, markers):
        best, pred = 0, "unknown"
        for lang in markers:  # insertion order = en,es,fr,de priority
            sc = sum(1 for t in toks if t in set(markers[lang]))
            if sc > best:
                best, pred = sc, lang
        return pred if best > 0 else "unknown"

    d2 = 0
    counts: Counter = Counter()
    units = 0
    for r in load(spark, sf_dir, "documents").select("text").collect():
        toks = r["text"].strip().split()
        ra = classify(toks, multi)
        rb = "en"
        rc = classify(toks, single)
        units += 1
        d2 += 2 * ((ra != rb) + (ra != rc) + (rb != rc))
        counts.update([ra, rb, rc])
    n = 3 * units
    e = n * n - sum(v * v for v in counts.values())
    alpha_micro = 1_000_000 - (1_000_000 * (n - 1) * d2) // (2 * e)
    got = quality_krippendorff_alpha(spark, sf_dir).collect()[0]
    assert got["n_units"] == units
    assert got["n_ratings"] == n
    assert got["d2_disagreements"] == d2
    assert got["alpha_micro"] == alpha_micro
    assert got["reliable"] == (alpha_micro >= 800_000)


def test_rrf_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.ml import (
        RRF_K,
        RRF_POOL,
        RRF_QUERY,
        RRF_TOPK,
        ml_reciprocal_rank_fusion,
    )

    rows = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    base = []
    q = set(RRF_QUERY)
    for r in rows:
        toks = r["text"].strip().split()
        hits = sum(1 for t in toks if t in q)
        if hits > 0:
            base.append((r["doc_id"], hits, len(toks)))
    pool_a = sorted(base, key=lambda x: (-x[1], x[0]))[:RRF_POOL]
    pool_b = sorted(
        base, key=lambda x: (-((1_000_000 * x[1]) // x[2]), x[0])
    )[:RRF_POOL]
    ra = {d: i + 1 for i, (d, _, _) in enumerate(pool_a)}
    rb = {d: i + 1 for i, (d, _, _) in enumerate(pool_b)}
    fused = {
        d: (1_000_000 // (RRF_K + ra[d]) if d in ra else 0)
        + (1_000_000 // (RRF_K + rb[d]) if d in rb else 0)
        for d in set(ra) | set(rb)
    }
    exp = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOPK]
    got = [
        (r["doc_id"], r["rrf_micro"])
        for r in ml_reciprocal_rank_fusion(spark, sf_dir).collect()
    ]
    assert got == exp


def test_capture_recapture_estimator_lands(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_inference import agg_capture_recapture

    got = agg_capture_recapture(spark, sf_dir).collect()[0]
    # ~50% capture probability per crawl
    assert 0.3 * got["n_true"] < got["n1"] < 0.7 * got["n_true"]
    assert 0.3 * got["n_true"] < got["n2"] < 0.7 * got["n_true"]
    assert got["m"] <= min(got["n1"], got["n2"])
    # Chapman estimator with ~25% overlap of a 500+-doc corpus lands
    # well inside +/-20%
    assert got["rel_err_micro"] < 200_000
    assert (
        got["n_estimated"]
        == ((got["n1"] + 1) * (got["n2"] + 1)) // (got["m"] + 1) - 1
    )


def test_late_arriving_dimension_reconciliation(spark, sf_dir):
    from parquet_batch_spark.operators.warehouse import (
        etl_late_arriving_dimension,
    )

    rows = {
        r["phase"]: r
        for r in etl_late_arriving_dimension(spark, sf_dir).collect()
    }
    p1, p2 = rows["1_initial_load"], rows["2_after_late_batch"]
    n_orders = load(spark, sf_dir, "orders").count()
    # no fact dropped or duplicated in either phase
    assert p1["n_resolved"] + p1["n_parked"] == n_orders
    assert p2["n_resolved"] + p2["n_parked"] == n_orders
    # the late batch resolves every parked fact (full dim coverage)
    assert p1["n_parked"] > 0
    assert p2["n_parked"] == 0
    assert p2["n_resolved"] == n_orders
    assert p2["resolved_revenue"] >= p1["resolved_revenue"]


def test_score_separation_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.common import ECE_SCALE_CHARS
    from parquet_batch_spark.operators.stats.ml import ml_score_separation_report

    blocks: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "documents").select(
        "n_chars", "text"
    ).collect():
        s = min(1_000_000, (1_000_000 * r["n_chars"]) // ECE_SCALE_CHARS)
        y = 1 if "data" in r["text"].strip().split() else 0
        blocks[s][0] += 1
        blocks[s][1] += y
    pos = sum(b[1] for b in blocks.values())
    neg = sum(b[0] for b in blocks.values()) - pos
    tp = fp = 0
    best = None
    for s in sorted(blocks, reverse=True):
        n_k, p_k = blocks[s]
        tp += p_k
        fp += n_k - p_k
        j = (1_000_000 * tp) // pos - (1_000_000 * fp) // neg
        cand = (-j, s, tp, fp)
        if best is None or cand < best:
            best = cand
    j, s, tp, fp = -best[0], best[1], best[2], best[3]
    got = ml_score_separation_report(spark, sf_dir).collect()[0]
    assert got["threshold_micro"] == s
    assert got["ks_youden_micro"] == j
    assert (got["tp"], got["fp"]) == (tp, fp)
    assert got["fn"] == pos - tp and got["tn"] == neg - fp
    # KS of a usable score is strictly positive
    assert got["ks_youden_micro"] > 0


def test_market_concentration_axioms(spark, sf_dir):
    from parquet_batch_spark.operators.stats.agg_descriptive import agg_market_concentration

    rows = agg_market_concentration(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HHI bounds: 10000/n <= HHI <= 10000 (up to bp truncation)
        assert r["hhi_points"] <= 10_000
        assert r["hhi_points"] >= 10_000 // r["n_nations"] - 10
        # CR4 never exceeds total share, never below HHI-implied floor
        assert r["cr4_bp"] <= 10_000
        if r["n_nations"] <= 4:
            assert r["cr4_bp"] >= 9_990  # all share inside top-4


def test_haar_wavelet_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import HAAR_LEVELS, window_haar_wavelet_energy

    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    exp = {}
    for lvl in range(1, HAAR_LEVELS + 1):
        pairs = [(xs[i], xs[i + 1]) for i in range(0, len(xs) - 1, 2)]
        ds = [e - o for e, o in pairs]
        xs = [e + o for e, o in pairs]
        exp[lvl] = (len(ds), sum(d * d for d in ds) // 1_000_000)
    got = {
        r["level"]: (r["n_coeffs"], r["detail_energy_1e6"])
        for r in window_haar_wavelet_energy(spark, sf_dir).collect()
    }
    assert got == exp
    # Parseval sanity: total detail energy is positive at every level
    assert all(v[1] > 0 for v in got.values())


def test_markov_attribution_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.seq import (
        MA_CHANNELS,
        MA_SCALE,
        _ma_absorb,
        seq_markov_attribution,
    )

    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict[int, list[str]] = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r["event_type"])
    counts: dict[tuple, int] = defaultdict(int)
    for seq in by_user.values():
        journeys: list[tuple[list[str], bool]] = []
        cur: list[str] = []
        for e in seq:
            if e == "purchase":
                journeys.append((cur, True))
                cur = []
            else:
                cur.append(e)
        if cur:
            journeys.append((cur, False))
        for touches, conv in journeys:
            if not touches:
                if conv:
                    counts[("START", "CONV")] += 1
                continue
            counts[("START", touches[0])] += 1
            for a, b in zip(touches, touches[1:]):
                counts[(a, b)] += 1
            counts[(touches[-1], "CONV" if conv else "NULL")] += 1
    row_tot: dict[str, int] = defaultdict(int)
    for (f, _), c in counts.items():
        row_tot[f] += c
    edges = {
        (f, t): (c * MA_SCALE) // row_tot[f] for (f, t), c in counts.items()
    }
    base = _ma_absorb(edges, None)
    effects = {ch: base - _ma_absorb(edges, ch) for ch in MA_CHANNELS}
    tot = sum(effects.values())
    got = {
        r["channel"]: r for r in seq_markov_attribution(spark, sf_dir).collect()
    }
    assert set(got) == set(MA_CHANNELS)
    for ch in MA_CHANNELS:
        assert got[ch]["base_conv_fp"] == base
        assert got[ch]["removed_conv_fp"] == base - effects[ch]
        assert (
            got[ch]["removal_effect_micro"]
            == (1_000_000 * effects[ch]) // base
        )
        assert (
            got[ch]["attribution_micro"] == (1_000_000 * effects[ch]) // tot
        )
    # removal can only hurt conversion; attribution sums to ~100%
    assert all(e >= 0 for e in effects.values())
    assert (
        sum(got[ch]["attribution_micro"] for ch in MA_CHANNELS)
        <= 1_000_000
    )


def test_lorenz_curve_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import (
        LORENZ_DECILES,
        agg_lorenz_curve,
    )

    spend: dict[int, int] = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey", F.floor("o_totalprice").cast("long").alias("y")
    ).collect():
        spend[r["o_custkey"]] += r["y"]
    vals = sorted(spend.values())
    n = len(vals)
    exp = {}
    total = sum(vals)
    cum = 0
    for d in range(LORENZ_DECILES):
        lo, hi = (d * n) // LORENZ_DECILES, ((d + 1) * n) // LORENZ_DECILES
        dspend = sum(vals[lo:hi])
        cum += dspend
        exp[d] = (hi - lo, dspend, (1_000_000 * cum) // total)
    got = {
        r["decile"]: (r["n_customers"], r["decile_spend"], r["cum_share_micro"])
        for r in agg_lorenz_curve(spark, sf_dir).collect()
    }
    assert got == exp
    # Lorenz curve properties: monotone, convex-ish, ends at ~100%
    shares = [got[d][2] for d in range(LORENZ_DECILES)]
    assert shares == sorted(shares)
    assert shares[-1] >= 999_999 - LORENZ_DECILES


def test_fellegi_sunter_weights_properties(spark, sf_dir):
    from parquet_batch_spark.operators.dedup import (
        dedup_fellegi_sunter_weights,
    )

    rows = {
        r["field"]: r
        for r in dedup_fellegi_sunter_weights(spark, sf_dir).collect()
    }
    assert set(rows) == {"lang", "source", "len"}
    for r in rows.values():
        assert r["n_match_pairs"] > 0 and r["n_random_pairs"] > 0
        assert 0 <= r["m_micro"] <= 1_000_000
        assert 0 <= r["u_micro"] <= 1_000_000
    # length is the one reliably discriminative field in the synthetic
    # corpus (near-dup shingle overlap crosses languages by design, so
    # lang/source agreement among matches can sit BELOW random — which
    # is exactly the insight the m/u table is for)
    assert rows["len"]["m_micro"] >= rows["len"]["u_micro"]
    if rows["len"]["weight_log2"] is not None:
        assert rows["len"]["weight_log2"] >= 0


def test_icc_design_effect_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_inference import agg_icc_design_effect

    by_c: dict[int, list[int]] = defaultdict(list)
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey", F.floor("o_totalprice").cast("long").alias("y")
    ).collect():
        by_c[r["o_custkey"]].append(r["y"])
    k = len(by_c)
    n = sum(len(v) for v in by_c.values())
    s = sum(sum(v) for v in by_c.values())
    q = sum(sum(x * x for x in v) for v in by_c.values())
    sg = (
        sum((1_000_000 * sum(v) ** 2) // len(v) for v in by_c.values())
        / 1e6
    )
    sn2 = sum(len(v) ** 2 for v in by_c.values())
    msb = (sg - s * s / n) / (k - 1)
    msw = (q - sg) / (n - k)
    m0 = (n - sn2 / n) / (k - 1)
    icc = (msb - msw) / (msb + (m0 - 1) * msw)
    deff = 1 + (m0 - 1) * icc
    got = agg_icc_design_effect(spark, sf_dir).collect()[0]
    assert got["n_clusters"] == k and got["n_rows"] == n
    assert math.isclose(got["m0_cluster_size"], m0, abs_tol=1e-5)
    assert math.isclose(got["icc"], icc, abs_tol=1e-5)
    assert math.isclose(got["design_effect"], deff, abs_tol=1e-5)
    # DEFF >= 1 when clustering hurts, and never below ~0
    assert got["design_effect"] > 0


def test_record_highs_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import window_record_highs

    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("x"))
        .orderBy("day")
        .collect()
    )
    mx = None
    n_rec = 0
    last = None
    for r in daily:
        if mx is None or r["x"] > mx:
            n_rec += 1
            last = r["day"]
            mx = r["x"]
    expected = sum(1_000_000 // i for i in range(1, len(daily) + 1))
    got = window_record_highs(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(daily)
    assert got["n_records"] == n_rec
    assert got["last_record_day"] == last
    assert got["expected_micro"] == expected
    assert got["trending"] == (n_rec * 1_000_000 > expected)


def test_gumbel_fit_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import (
        GUMBEL_GAMMA,
        _gumbel_c,
        agg_gumbel_extreme_value,
    )

    daily: dict = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect():
        daily[r["day"]] += r["y"]
    blocks: dict = defaultdict(int)
    for day, x in daily.items():
        m = (day.year - 1970) * 12 + day.month - 1
        blocks[m] = max(blocks[m], x)
    vals = list(blocks.values())
    n = len(vals)
    mean = sum(vals) / n
    var = (sum(v * v for v in vals) - n * mean * mean) / (n - 1)
    beta = math.sqrt(var * 6.0) / math.pi
    mu = mean - GUMBEL_GAMMA * beta
    z = mu - beta * _gumbel_c()
    got = agg_gumbel_extreme_value(spark, sf_dir).collect()[0]
    assert got["n_blocks"] == n
    assert math.isclose(got["block_max_mean"], mean, abs_tol=1e-4)
    assert math.isclose(got["gumbel_beta"], beta, abs_tol=1e-4)
    assert math.isclose(got["gumbel_mu"], mu, abs_tol=1e-4)
    assert math.isclose(got["return_level_100"], z, abs_tol=1e-4)
    # the 100-block return level sits above the observed mean max
    assert got["return_level_100"] > got["block_max_mean"]


def test_identifier_clause_matches_static(spark, sf_dir):
    from parquet_batch_spark.operators.scalar_funcs import (
        sql_identifier_clause,
    )

    got = [tuple(r) for r in sql_identifier_clause(spark, sf_dir).collect()]
    exp = [
        tuple(r)
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor("o_totalprice").cast("long")).alias("total_usd"),
        )
        .orderBy("o_orderstatus")
        .collect()
    ]
    assert got == exp


def test_partition_pruning_report_monotone(spark, sf_dir):
    from parquet_batch_spark.operators.scale_ops import (
        scan_partition_pruning_report,
    )

    rows = {
        r["predicate"]: r
        for r in scan_partition_pruning_report(spark, sf_dir).collect()
    }
    assert len(rows) == 4
    kept = [rows[k]["n_kept"] for k in sorted(rows)]
    # wider predicates keep at least as many partitions
    assert kept == sorted(kept)
    # a one-day query prunes almost everything; all rows share a total
    totals = {r["n_partitions"] for r in rows.values()}
    assert len(totals) == 1
    assert rows["1_one_day"]["n_kept"] <= 2
    assert rows["4_three_years"]["n_kept"] >= 36


def test_clustering_factor_separates_layouts(spark, sf_dir):
    from parquet_batch_spark.operators.scale_ops import (
        CF_SHARDS,
        sink_clustering_factor,
    )

    rows = {
        r["layout"]: r for r in sink_clustering_factor(spark, sf_dir).collect()
    }
    rng = rows["1_range_clustered"]["files_touched_micro"]
    hsh = rows["2_hash_scattered"]["files_touched_micro"]
    # range layout: ~1 file per point lookup; hash: ~all files
    assert rng < 1_300_000, rng
    assert hsh > (CF_SHARDS - 2) * 1_000_000, hsh
    assert rows["1_range_clustered"]["n_shards"] == CF_SHARDS


def test_energy_distance_python_reference(spark, sf_dir):
    """Brute-force O(grid²) recompute of Székely's E from the value
    counts; the op must match exactly (it is exact, not binned)."""
    from collections import Counter

    from parquet_batch_spark.operators.stats.agg_inference import (
        TT_GROUP_A,
        TT_GROUP_B,
        agg_energy_distance,
    )

    xa: Counter = Counter()
    xb: Counter = Counter()
    for r in load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(TT_GROUP_A, TT_GROUP_B)
    ).select(
        "o_orderpriority", F.floor("o_totalprice").cast("long").alias("v")
    ).collect():
        (xa if r["o_orderpriority"] == TT_GROUP_A else xb)[r["v"]] += 1

    def cross_sum(ca: Counter, cb: Counter) -> int:
        return sum(
            na * nb * abs(va - vb)
            for va, na in ca.items()
            for vb, nb in cb.items()
        )

    na, nb = sum(xa.values()), sum(xb.values())
    e = (
        2 * cross_sum(xa, xb) / (na * nb)
        - cross_sum(xa, xa) / (na * na)
        - cross_sum(xb, xb) / (nb * nb)
    )
    got = agg_energy_distance(spark, sf_dir).collect()[0]
    assert got["n_a"] == na and got["n_b"] == nb
    assert math.isclose(got["energy_distance"], e, rel_tol=1e-6, abs_tol=1e-5)
    assert math.isclose(
        got["e_stat"], na * nb / (na + nb) * e, rel_tol=1e-6, abs_tol=1e-4
    )
    # E >= 0 always; equality only for identical distributions
    assert got["energy_distance"] >= 0


def test_degree_assortativity_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.corpus_ops import (
        graph_degree_assortativity,
    )
    from parquet_batch_spark.operators.llm_prep import segment_edges

    edges = [(r["a"], r["b"]) for r in segment_edges(spark, sf_dir).collect()]
    deg: dict[int, int] = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    slots = [(deg[a], deg[b]) for a, b in edges] + [
        (deg[b], deg[a]) for a, b in edges
    ]
    n = len(slots)
    sx = sum(x for x, _ in slots)
    sy = sum(y for _, y in slots)
    sxy = sum(x * y for x, y in slots)
    sxx = sum(x * x for x, _ in slots)
    syy = sum(y * y for _, y in slots)
    r = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    got = graph_degree_assortativity(spark, sf_dir).collect()[0]
    assert got["n_edges"] == len(edges)
    assert math.isclose(got["assortativity"], r, abs_tol=1.1e-6)
    assert -1.0 <= got["assortativity"] <= 1.0


def test_yule_k_python_reference(spark, sf_dir):
    from collections import Counter, defaultdict

    from parquet_batch_spark.operators.text_analysis import text_yule_k

    freq: dict[str, Counter] = defaultdict(Counter)
    for r in load(spark, sf_dir, "documents").select("lang", "text").collect():
        freq[r["lang"]].update(r["text"].strip().split())
    got = {r["lang"]: r for r in text_yule_k(spark, sf_dir).collect()}
    assert set(got) == set(freq)
    for lang, c in freq.items():
        n = sum(c.values())
        s_m2v = sum(m * m for m in c.values())
        k_milli = (10_000_000 * (s_m2v - n)) // (n * n)
        assert got[lang]["n_tokens"] == n
        assert got[lang]["n_types"] == len(c)
        assert got[lang]["yule_k_milli"] == k_milli
        assert got[lang]["yule_k_milli"] >= 0


def test_interleaved_budget_python_reference(spark, sf_dir):
    import hashlib
    from collections import defaultdict

    from parquet_batch_spark.operators.multimodal import (
        MM_PACK_BUDGET,
        VIT_PATCH,
        multimodal_interleaved_budget,
    )

    rows = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    per_lang: dict[str, list] = defaultdict(list)
    for r in rows:
        txt = len(r["text"].strip().split())
        w = 256 + (r["doc_id"] * 37) % 768
        h = 256 + (r["doc_id"] * 53) % 768
        img = ((w + VIT_PATCH - 1) // VIT_PATCH) * (
            (h + VIT_PATCH - 1) // VIT_PATCH
        ) + 1
        hk = int(
            hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16
        )
        per_lang[r["lang"]].append((hk, r["doc_id"], txt, img))
    exp: dict[tuple, list[int]] = {}
    for lang, docs in per_lang.items():
        docs.sort()
        off = 0
        for _, _, txt, img in docs:
            seq = off // MM_PACK_BUDGET
            k = (lang, seq)
            e = exp.setdefault(k, [0, 0, 0])
            e[0] += 1
            e[1] += txt
            e[2] += img
            off += txt + img
    got = {
        (r["lang"], r["seq_id"]): [
            r["n_docs"],
            r["text_tokens"],
            r["vision_tokens"],
        ]
        for r in multimodal_interleaved_budget(spark, sf_dir).collect()
    }
    assert got == exp


def test_chao1_python_reference(spark, sf_dir):
    from collections import Counter, defaultdict

    from parquet_batch_spark.operators.text_analysis import (
        text_chao1_vocabulary,
    )

    freq: dict[str, Counter] = defaultdict(Counter)
    for r in load(spark, sf_dir, "documents").select("lang", "text").collect():
        freq[r["lang"]].update(r["text"].strip().split())
    got = {r["lang"]: r for r in text_chao1_vocabulary(spark, sf_dir).collect()}
    for lang, c in freq.items():
        v = len(c)
        f1 = sum(1 for m in c.values() if m == 1)
        f2 = sum(1 for m in c.values() if m == 2)
        est = v + (f1 * (f1 - 1)) // (2 * (f2 + 1))
        assert got[lang]["v_observed"] == v
        assert got[lang]["f1"] == f1 and got[lang]["f2"] == f2
        assert got[lang]["chao1_estimate"] == est
        # estimator never goes below the observed vocabulary
        assert est >= v
        assert got[lang]["coverage_micro"] == (1_000_000 * v) // est


def test_prefix_cluster_python_reference(spark, sf_dir):
    import hashlib
    from collections import defaultdict

    from parquet_batch_spark.operators.dedup import (
        PREFIX_K,
        dedup_prefix_cluster,
    )

    groups: dict[int, list] = defaultdict(list)
    for r in load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect():
        prefix = " ".join(r["text"].strip().split()[:PREFIX_K])
        pk = int(hashlib.md5(prefix.encode()).hexdigest()[:8], 16)
        groups[pk].append((r["doc_id"], r["source"]))
    exp = {
        pk: (
            len(v),
            min(d for d, _ in v),
            len({s for _, s in v}),
        )
        for pk, v in groups.items()
        if len(v) > 1
    }
    got = {
        r["pk"]: (r["n_docs"], r["representative"], r["n_sources"])
        for r in dedup_prefix_cluster(spark, sf_dir).collect()
    }
    assert got == exp


def test_price_index_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import (
        PI_BASE_YEAR,
        PI_CURR_YEAR,
        agg_price_index_laspeyres,
    )

    li = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.year("o_orderdate").alias("yr"),
            ),
            "l_orderkey",
        )
        .where(F.col("yr").isin(PI_BASE_YEAR, PI_CURR_YEAR))
        .select(
            "l_partkey",
            "yr",
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.lit(100.0) * F.col("l_extendedprice"))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    agg: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    for r in li:
        a = agg[(r["l_partkey"], r["yr"])]
        a[0] += r["q"]
        a[1] += r["cents"]
    uv = {k: (v[0], v[1] // v[0]) for k, v in agg.items()}
    parts = {p for p, y in uv if y == PI_BASE_YEAR} & {
        p for p, y in uv if y == PI_CURR_YEAR
    }
    p1q0 = sum(uv[(p, PI_CURR_YEAR)][1] * uv[(p, PI_BASE_YEAR)][0] for p in parts)
    p0q0 = sum(uv[(p, PI_BASE_YEAR)][1] * uv[(p, PI_BASE_YEAR)][0] for p in parts)
    p1q1 = sum(uv[(p, PI_CURR_YEAR)][1] * uv[(p, PI_CURR_YEAR)][0] for p in parts)
    p0q1 = sum(uv[(p, PI_BASE_YEAR)][1] * uv[(p, PI_CURR_YEAR)][0] for p in parts)
    got = agg_price_index_laspeyres(spark, sf_dir).collect()[0]
    assert got["n_common_parts"] == len(parts)
    assert math.isclose(got["laspeyres"], p1q0 / p0q0, abs_tol=1e-5)
    assert math.isclose(got["paasche"], p1q1 / p0q1, abs_tol=1e-5)
    assert math.isclose(
        got["fisher"],
        math.sqrt((p1q0 / p0q0) * (p1q1 / p0q1)),
        abs_tol=1e-5,
    )


def test_good_turing_python_reference(spark, sf_dir):
    from collections import Counter, defaultdict

    from parquet_batch_spark.operators.text_analysis import (
        GT_MAX_R,
        text_good_turing_mass,
    )

    freq: dict[str, Counter] = defaultdict(Counter)
    for r in load(spark, sf_dir, "documents").select("lang", "text").collect():
        freq[r["lang"]].update(r["text"].strip().split())
    got = {r["lang"]: r for r in text_good_turing_mass(spark, sf_dir).collect()}
    for lang, c in freq.items():
        n = sum(c.values())
        spec = Counter(c.values())
        assert got[lang]["n_tokens"] == n
        assert got[lang]["f1"] == spec.get(1, 0)
        assert (
            got[lang]["missing_mass_micro"]
            == (1_000_000 * spec.get(1, 0)) // n
        )
        for r_ in range(1, GT_MAX_R + 1):
            fr, fr1 = spec.get(r_, 0), spec.get(r_ + 1, 0)
            exp = (1_000_000 * (r_ + 1) * fr1) // fr if fr > 0 else None
            assert got[lang][f"rstar{r_}_micro"] == exp
        # Good-Turing deflates singleton counts (r*=1 < 1 in a Zipfian
        # corpus); missing mass is a probability
        assert 0 <= got[lang]["missing_mass_micro"] <= 1_000_000


def test_spc_control_limits_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import (
        SPC_D2_INV_MICRO,
        SPC_SIGMA_MULT,
        window_spc_control_limits,
    )

    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    days = [r["day"] for r in daily]
    mrs = [abs(b - a) for a, b in zip(xs, xs[1:])]
    center = sum(xs) // len(xs)
    mr_bar = sum(mrs) // len(mrs)
    sigma = (mr_bar * SPC_D2_INV_MICRO) // 1_000_000
    ucl, lcl = center + SPC_SIGMA_MULT * sigma, center - SPC_SIGMA_MULT * sigma
    ooc = [d for d, x in zip(days, xs) if x > ucl or x < lcl]
    got = window_spc_control_limits(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(xs)
    assert got["center"] == center and got["mr_bar"] == mr_bar
    assert got["sigma_hat"] == sigma
    assert got["ucl"] == ucl and got["lcl"] == lcl
    assert got["n_out_of_control"] == len(ooc)
    if ooc:
        assert got["first_ooc_day"] == min(ooc)
        assert got["last_ooc_day"] == max(ooc)


def test_ljung_box_python_reference(spark, sf_dir):
    from parquet_batch_spark.operators.stats.window import LB_CHI2_CRIT, LB_LAGS, window_ljung_box

    daily = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor("o_totalprice").cast("long").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("x"))
        .orderBy("day")
        .collect()
    )
    xs = [r["x"] for r in daily]
    n = len(xs)
    mean = sum(xs) / n
    denom = sum(x * x for x in xs) - n * mean * mean
    q = 0.0
    for k in range(1, LB_LAGS + 1):
        pairs = list(zip(xs[k:], xs[:-k]))
        sxy = sum(a * b for a, b in pairs)
        sa = sum(a for a, _ in pairs)
        sb = sum(b for _, b in pairs)
        rho = (sxy - mean * (sa + sb) + len(pairs) * mean * mean) / denom
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    got = window_ljung_box(spark, sf_dir).collect()[0]
    assert got["n_days"] == n and got["n_lags"] == LB_LAGS
    assert math.isclose(got["q_stat"], q, rel_tol=1e-6, abs_tol=1e-4)
    assert got["reject_whiteness"] == (q > LB_CHI2_CRIT)


def test_cost_threshold_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.common import ECE_SCALE_CHARS
    from parquet_batch_spark.operators.stats.ml import (
        COST_FN,
        COST_FP,
        ml_cost_sensitive_threshold,
        ml_score_separation_report,
    )

    blocks: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "documents").select(
        "n_chars", "text"
    ).collect():
        s = min(1_000_000, (1_000_000 * r["n_chars"]) // ECE_SCALE_CHARS)
        y = 1 if "data" in r["text"].strip().split() else 0
        blocks[s][0] += 1
        blocks[s][1] += y
    pos = sum(b[1] for b in blocks.values())
    tp = fp = 0
    best = None
    for s in sorted(blocks, reverse=True):
        n_k, p_k = blocks[s]
        tp += p_k
        fp += n_k - p_k
        cost = COST_FP * fp + COST_FN * (pos - tp)
        cand = (cost, s, fp, pos - tp)
        if best is None or cand < best:
            best = cand
    cost, s, fp, fn = best
    got = ml_cost_sensitive_threshold(spark, sf_dir).collect()[0]
    assert got["threshold_micro"] == s
    assert (got["fp"], got["fn"], got["total_cost"]) == (fp, fn, cost)
    assert got["baseline_cost"] == COST_FN * pos
    # the cost-optimal cut recalls at least as hard as Youden's
    youden = ml_score_separation_report(spark, sf_dir).collect()[0]
    assert got["threshold_micro"] <= youden["threshold_micro"]


def test_mutual_information_python_reference(spark, sf_dir):
    from collections import Counter

    from parquet_batch_spark.operators.stats.agg_inference import agg_mutual_information

    cells: Counter = Counter()
    for r in load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).collect():
        cells[(r["o_orderstatus"], r["o_orderpriority"])] += 1
    n = sum(cells.values())
    n_s: Counter = Counter()
    n_p: Counter = Counter()
    for (sv, pv), c in cells.items():
        n_s[sv] += c
        n_p[pv] += c
    mi_num = sum(
        math.floor(1e6 * c * math.log(n * c / (n_s[sv] * n_p[pv])))
        for (sv, pv), c in cells.items()
    )
    hs_num = sum(
        math.floor(1e6 * c * math.log(n / c)) for c in n_s.values()
    )
    hp_num = sum(
        math.floor(1e6 * c * math.log(n / c)) for c in n_p.values()
    )
    got = agg_mutual_information(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n and got["n_cells"] == len(cells)
    assert math.isclose(got["mi_nats"], mi_num / 1e6 / n, abs_tol=2e-6)
    assert math.isclose(got["h_status"], hs_num / 1e6 / n, abs_tol=2e-6)
    assert math.isclose(got["h_priority"], hp_num / 1e6 / n, abs_tol=2e-6)
    # information axioms: 0 <= MI <= min(H); NMI in [0, 1]
    assert -1e-6 <= got["mi_nats"] <= min(got["h_status"], got["h_priority"]) + 1e-6
    assert -1e-6 <= got["nmi"] <= 1 + 1e-6


def test_ipw_ate_python_reference(spark, sf_dir):
    import hashlib
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.sample import IPW_PROPENSITY_PCT, sample_ipw_ate

    spend: dict[int, int] = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey", F.floor("o_totalprice").cast("long").alias("y")
    ).collect():
        spend[r["o_custkey"]] += r["y"]
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load(spark, sf_dir, "customer").collect()
    }
    n = nt = syt = syc = wt = wc = wyt = wyc = 0
    for ck, y in spend.items():
        p = IPW_PROPENSITY_PCT[seg[ck]]
        u = int(hashlib.md5(f"{ck}|ipw".encode()).hexdigest()[:8], 16) % 100
        t = u < p
        n += 1
        if t:
            nt += 1
            syt += y
            wyt += y * (4200 // p)
            wt += 4200 // p
        else:
            syc += y
            wyc += y * (4200 // (100 - p))
            wc += 4200 // (100 - p)
    naive = syt / nt - syc / (n - nt)
    ipw = wyt / wt - wyc / wc
    got = sample_ipw_ate(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n and got["n_treated"] == nt
    assert math.isclose(got["naive_diff"], naive, abs_tol=1e-3)
    assert math.isclose(got["ipw_ate"], ipw, abs_tol=1e-3)
    # the treatment is a pure hash draw (no real effect), so IPW must
    # sit CLOSER to zero than the confounded naive difference
    assert abs(got["ipw_ate"]) <= abs(got["naive_diff"]) + 1e-6


def test_partial_correlation_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_inference import agg_partial_correlation

    agg: dict[int, list] = defaultdict(lambda: [0, 0, None, None])
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor("o_totalprice").cast("long").alias("y"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).collect():
        a = agg[r["o_custkey"]]
        a[0] += r["y"]
        a[1] += 1
        a[2] = r["d"] if a[2] is None else min(a[2], r["d"])
        a[3] = r["d"] if a[3] is None else max(a[3], r["d"])
    xs, ys, zs = [], [], []
    for x, yy, dmin, dmax in agg.values():
        xs.append(x)
        ys.append(yy)
        zs.append((dmax - dmin).days)
    n = len(xs)

    def corr(a, b):
        sa, sb = sum(a), sum(b)
        sab = sum(x * y for x, y in zip(a, b))
        saa = sum(x * x for x in a)
        sbb = sum(x * x for x in b)
        return (n * sab - sa * sb) / (
            math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
        )

    rxy, rxz, ryz = corr(xs, ys), corr(xs, zs), corr(ys, zs)
    partial = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz * rxz) * (1 - ryz * ryz)
    )
    got = agg_partial_correlation(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n
    assert math.isclose(got["r_spend_orders"], rxy, abs_tol=1e-5)
    assert math.isclose(got["partial_r_given_tenure"], partial, abs_tol=1e-5)
    # partialling a shared positive driver out shrinks the correlation
    assert abs(got["partial_r_given_tenure"]) <= abs(got["r_spend_orders"]) + 1e-6


def test_digit_preference_python_reference(spark, sf_dir):
    from collections import Counter

    from parquet_batch_spark.operators.stats.quality import quality_digit_preference

    hist: Counter = Counter()
    for r in load(spark, sf_dir, "customer").select("c_acctbal").collect():
        hist[int(math.floor(abs(100.0 * r["c_acctbal"]))) % 10] += 1
    n = sum(hist.values())
    chi2 = sum(
        ((10 * hist[d] - n) ** 2 * 1_000_000) // (10 * n) for d in hist
    )
    got = {r["digit"]: r for r in quality_digit_preference(spark, sf_dir).collect()}
    assert len(got) == 10
    for d in range(10):
        assert got[d]["n_d"] == hist[d]
        assert got[d]["chi2_micro"] == chi2
        assert got[d]["share_micro"] == (1_000_000 * hist[d]) // n


def test_interarrival_burstiness_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.window import window_interarrival_burstiness

    ev = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
        .orderBy("user_id", "event_type", "us", "event_id")
        .collect()
    )
    gaps: dict[str, list[int]] = defaultdict(list)
    prev: dict[tuple, int] = {}
    for r in ev:
        k = (r["user_id"], r["event_type"])
        if k in prev:
            gaps[r["event_type"]].append((r["us"] - prev[k]) // 1_000_000)
        prev[k] = r["us"]
    got = {
        r["event_type"]: r
        for r in window_interarrival_burstiness(spark, sf_dir).collect()
    }
    for et, gs in gaps.items():
        n = len(gs)
        mu = sum(gs) / n
        sigma = math.sqrt(sum(g * g for g in gs) / n - mu * mu)
        b = (sigma - mu) / (sigma + mu)
        assert got[et]["n_gaps"] == n
        assert math.isclose(got[et]["burstiness"], b, abs_tol=1e-5)
        assert -1.0 <= got[et]["burstiness"] <= 1.0


def test_markov_predictive_accuracy_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.seq import (
        seq_markov_predictive_accuracy,
        seq_transition_matrix,
    )

    counts = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in seq_transition_matrix(spark, sf_dir).collect()
    }
    by_from: dict[str, dict[str, int]] = defaultdict(dict)
    for (f, t), c in counts.items():
        by_from[f][t] = c
    got = {
        r["from_type"]: r
        for r in seq_markov_predictive_accuracy(spark, sf_dir).collect()
    }
    assert set(got) == set(by_from)
    for f, tos in by_from.items():
        modal = min(tos, key=lambda t: (-tos[t], t))
        total = sum(tos.values())
        assert got[f]["modal_next"] == modal
        assert got[f]["n_correct"] == tos[modal]
        assert got[f]["n_total"] == total
        assert got[f]["accuracy_micro"] == (1_000_000 * tos[modal]) // total
        # modal accuracy can never be below uniform guessing
        assert got[f]["accuracy_micro"] >= 1_000_000 // (len(tos) + 1)


def test_pot_gpd_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.window import POT_PCT, window_peak_over_threshold

    daily: dict = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect():
        daily[r["day"]] += r["y"]
    xs = sorted(daily.values())
    n = len(xs)
    # lower percentile via cumulative counts (pinned convention)
    cum = 0
    u = None
    from collections import Counter

    for v, c in sorted(Counter(xs).items()):
        cum += c
        if 100 * cum >= POT_PCT * n:
            u = v
            break
    exc = [x - u for x in xs if x > u]
    k = len(exc)
    mu = sum(exc) / k
    s2 = sum(e * e for e in exc) / k - mu * mu
    xi = 0.5 * (1 - mu * mu / s2)
    beta = 0.5 * mu * (mu * mu / s2 + 1)
    got = window_peak_over_threshold(spark, sf_dir).collect()[0]
    assert got["n_days"] == n and got["threshold"] == u
    assert got["n_exceedances"] == k
    assert math.isclose(got["mean_excess"], mu, abs_tol=1e-4)
    assert math.isclose(got["gpd_xi"], xi, abs_tol=1e-5)
    assert math.isclose(got["gpd_beta"], beta, abs_tol=1e-3)
    # exceedances are ~5% of days by construction
    assert k <= n - math.ceil(POT_PCT * n / 100) + 1


def test_rich_club_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.corpus_ops import (
        RICH_CLUB_KS,
        graph_rich_club,
    )
    from parquet_batch_spark.operators.llm_prep import segment_edges

    edges = [(r["a"], r["b"]) for r in segment_edges(spark, sf_dir).collect()]
    deg: dict[int, int] = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    got = {r["k"]: r for r in graph_rich_club(spark, sf_dir).collect()}
    assert set(got) == set(RICH_CLUB_KS)
    prev_nodes = None
    for k in RICH_CLUB_KS:
        nodes = [v for v, d in deg.items() if d > k]
        n_edges = sum(1 for a, b in edges if deg[a] > k and deg[b] > k)
        assert got[k]["n_nodes"] == len(nodes)
        assert got[k]["n_edges"] == n_edges
        if len(nodes) >= 2:
            assert got[k]["phi_micro"] == (2_000_000 * n_edges) // (
                len(nodes) * (len(nodes) - 1)
            )
        # clubs shrink as k rises
        if prev_nodes is not None:
            assert len(nodes) <= prev_nodes
        prev_nodes = len(nodes)


def test_burrows_delta_python_reference(spark, sf_dir):
    from collections import Counter, defaultdict

    from parquet_batch_spark.operators.text_analysis import (
        BD_VOCAB,
        text_burrows_delta,
    )

    by_src: dict[str, Counter] = defaultdict(Counter)
    for r in load(spark, sf_dir, "documents").select("source", "text").collect():
        by_src[r["source"]].update(r["text"].strip().split())
    corpus: Counter = Counter()
    for c in by_src.values():
        corpus.update(c)
    vocab = sorted(corpus, key=lambda w: (-corpus[w], w))[:BD_VOCAB]
    srcs = sorted(by_src)
    f = {
        (s, w): (1_000_000_000 * by_src[s][w]) // sum(by_src[s].values())
        for s in srcs
        for w in vocab
    }
    z = {}
    for w in vocab:
        vals = [f[(s, w)] for s in srcs]
        ns = len(vals)
        mu = sum(vals) / ns
        sigma = math.sqrt(sum(v * v for v in vals) / ns - mu * mu)
        for s in srcs:
            z[(s, w)] = (f[(s, w)] - mu) / sigma
    exp = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            tot = sum(
                math.floor(1e6 * abs(z[(a, w)] - z[(b, w)])) for w in vocab
            )
            # the op divides by the ACTUAL vocab size (< BD_VOCAB when
            # the corpus has fewer distinct words, as at sf0.001)
            exp[(a, b)] = tot // len(vocab)
    got = {
        (r["source_a"], r["source_b"]): r["delta_micro"]
        for r in text_burrows_delta(spark, sf_dir).collect()
    }
    assert got == exp
    # delta is a distance: strictly positive for distinct sources
    assert all(v > 0 for v in got.values())


def test_sortino_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.window import window_sortino_ratio

    daily: dict = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect():
        daily[r["day"]] += r["y"]
    xs = [daily[d] for d in sorted(daily)]
    rs = [b - a for a, b in zip(xs, xs[1:])]
    n = len(rs)
    mean = sum(rs) / n
    ddev = math.sqrt(sum(r * r for r in rs if r < 0) / n)
    got = window_sortino_ratio(spark, sf_dir).collect()[0]
    assert got["n_deltas"] == n
    assert got["n_down_days"] == sum(1 for r in rs if r < 0)
    assert math.isclose(got["mean_delta"], mean, abs_tol=1e-4)
    assert math.isclose(got["downside_dev"], ddev, abs_tol=1e-4)
    assert math.isclose(got["sortino"], mean / ddev, abs_tol=1e-5)


def test_indirect_standardization_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import agg_indirect_standardization

    cust = {
        r["c_custkey"]: (r["c_mktsegment"], r["c_nationkey"])
        for r in load(spark, sf_dir, "customer").collect()
    }
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation").collect()
    }
    cells: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey", (F.col("o_orderstatus") == "F").alias("f")
    ).collect():
        seg, nk = cust[r["o_custkey"]]
        c = cells[(nation[nk], seg)]
        c[0] += 1
        c[1] += int(r["f"])
    seg_n: dict[str, int] = defaultdict(int)
    seg_f: dict[str, int] = defaultdict(int)
    for (nm, seg), (n_cell, o_cell) in cells.items():
        seg_n[seg] += n_cell
        seg_f[seg] += o_cell
    exp = {}
    for nm in {k[0] for k in cells}:
        n_orders = sum(v[0] for k, v in cells.items() if k[0] == nm)
        observed = sum(v[1] for k, v in cells.items() if k[0] == nm)
        e_micro = sum(
            (1_000_000 * v[0] * seg_f[k[1]]) // seg_n[k[1]]
            for k, v in cells.items()
            if k[0] == nm
        )
        exp[nm] = (
            n_orders,
            observed,
            e_micro // 1_000_000,
            (1_000_000 * observed * 1_000_000) // e_micro,
        )
    got = {
        r["n_name"]: (
            r["n_orders"],
            r["observed"],
            r["expected"],
            r["smr_micro"],
        )
        for r in agg_indirect_standardization(spark, sf_dir).collect()
    }
    assert got == exp
    # mix-adjusted ratios scatter around 1.0
    smrs = [v[3] for v in got.values()]
    assert min(smrs) < 1_000_000 < max(smrs)


def test_sprt_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.sample import _sprt_consts, sample_sprt_monitor

    k = _sprt_consts()
    daily: dict = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        (F.col("event_type") == "purchase").alias("hit"),
    ).collect():
        d = daily[r["day"]]
        d[0] += int(r["hit"])
        d[1] += int(not r["hit"])
    llr = 0
    decision = None
    for day in sorted(daily):
        h, m = daily[day]
        llr += h * k["w_hit"] + m * k["w_miss"]
        if decision is None and llr >= k["upper"]:
            decision = (day, llr, "accept_H1")
        elif decision is None and llr <= k["lower"]:
            decision = (day, llr, "accept_H0")
    got = sample_sprt_monitor(spark, sf_dir).collect()
    assert len(got) == (1 if decision else 0)
    if decision:
        r = got[0]
        assert r["n_days"] == len(daily)
        assert (
            r["decision_day"],
            r["llr_at_decision_micro"],
            r["verdict"],
        ) == decision
        # the synthetic purchase share (~20%) is far above H1 (14%):
        # the monitor must accept H1
        assert r["verdict"] == "accept_H1"


def test_expected_shortfall_python_reference(spark, sf_dir):
    from collections import defaultdict

    from parquet_batch_spark.operators.stats.agg_descriptive import ES_PCT, agg_expected_shortfall

    daily: dict = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.floor("o_totalprice").cast("long").alias("y"),
    ).collect():
        daily[r["day"]] += r["y"]
    xs = [daily[d] for d in sorted(daily)]
    losses = sorted((a - b for a, b in zip(xs, xs[1:])), reverse=True)
    n = len(losses)
    k = (n * (100 - ES_PCT) + 99) // 100
    tail = losses[:k]
    got = agg_expected_shortfall(spark, sf_dir).collect()[0]
    assert got["n_deltas"] == n and got["n_tail"] == k
    assert got["var_loss"] == tail[-1]
    assert got["expected_shortfall"] == sum(tail) // k
    # ES dominates VaR (coherence)
    assert got["expected_shortfall"] >= got["var_loss"]
