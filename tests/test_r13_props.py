"""Round-13 randomized reference cross-checks: each new operator vs an
independently-written pure-Python reference on randomized inputs —
the test_wave22_props / test_r11_props discipline (properties, not
fixtures)."""

from __future__ import annotations

import math
import random


def test_sprt_matches_python_reference(spark):
    """sprt_audit == a pure-Python Wald SPRT with the same nano-literal
    weights on randomized daily counters, including the first-crossing
    latch in both directions."""
    from calp_cva_tracking_pipeline_spark.operators.funnel import (
        sprt_audit,
    )

    rng = random.Random(1311)
    for p_true in (0.30, 0.55):
        rows = []
        day0 = 1
        for d in range(12):
            n = rng.randint(20, 60)
            k = sum(1 for _ in range(n) if rng.random() < p_true)
            day = f"2024-02-{day0 + d:02d}"
            for i in range(n):
                rows.append((f"{day} 10:00:00", "purchase" if i < k else "view"))
        df = spark.createDataFrame(rows, "ts string, event_type string").selectExpr(
            "CAST(ts AS TIMESTAMP) AS ts", "event_type"
        )
        p0, p1, alpha, beta = 0.40, 0.50, 0.05, 0.2
        got = [
            (str(r.day), r.n, r.k, r.cum_llr_nano, r.verdict)
            for r in sprt_audit(df, p0, p1, alpha, beta).collect()
        ]

        w1 = round(1e9 * math.log(p1 / p0))
        w0 = round(1e9 * math.log((1 - p1) / (1 - p0)))
        up = round(1e9 * math.log((1 - beta) / alpha))
        lo = round(1e9 * math.log(beta / (1 - alpha)))
        per_day = {}
        for ts, et in rows:
            d = ts[:10]
            nn, kk = per_day.get(d, (0, 0))
            per_day[d] = (nn + 1, kk + (et == "purchase"))
        cum, out, fh, fl = 0, [], None, None
        for d in sorted(per_day):
            n, k = per_day[d]
            cum += k * w1 + (n - k) * w0
            if cum >= up and fh is None:
                fh = d
            if cum <= lo and fl is None:
                fl = d
            if fh is not None and (fl is None or fh <= fl):
                v = "accept_h1"
            elif fl is not None:
                v = "accept_h0"
            else:
                v = "continue"
            out.append((d, n, k, cum, v))
        assert got == out, p_true


def test_calibration_matches_python_reference(spark):
    """calibration_audit == a pure-Python binned reliability table on
    randomized confidences (incl. exact bin-edge values and conf=1.0
    clamping into the top bin) — integer-ppm arithmetic end-to-end."""
    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        calibration_audit,
    )

    rng = random.Random(1313)
    rows = []
    for i in range(500):
        conf = rng.choice(
            [rng.randint(0, 1000) / 1000, 0.5, 1.0, 0.999, 0.0]
        )
        rows.append((i, conf, rng.random() < conf))
    rows.append((9999, None, True))  # NULL conf drops
    df = spark.createDataFrame(
        rows, "id long, conf double, correct boolean"
    )
    got = [
        tuple(r) for r in calibration_audit(df, "conf", "correct").collect()
    ]

    cells = {}
    total = 0
    for _, conf, ok in rows:
        if conf is None:
            continue
        b = min(int(conf * 10), 9)
        n, sc, sok = cells.get(b, (0, 0, 0))
        cells[b] = (n + 1, sc + round(conf * 1_000_000), sok + bool(ok))
        total += 1
    exp = []
    for b in sorted(cells):
        n, sc, sok = cells[b]
        exp.append(
            (
                b,
                n,
                1_000_000 * n // total,
                sc // n,
                1_000_000 * sok // n,
                abs(sc // n - 1_000_000 * sok // n),
            )
        )
    assert got == exp


def test_kfold_partitions_groups_and_is_seed_sensitive(spark):
    """kfold: every group maps to exactly one fold, folds cover 0..k-1,
    assignment is invariant under repartitioning, and a different seed
    moves some groups."""
    from pyspark.sql import functions as F

    from calp_cva_tracking_pipeline_spark.operators.sampling import (
        kfold_assign,
    )

    rows = [(i, i % 97) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, grp long")
    lab = kfold_assign(df, "grp", 5).select("grp", "fold").distinct()
    per_group = lab.groupBy("grp").count().filter("count > 1").count()
    assert per_group == 0
    folds = {r.fold for r in lab.collect()}
    assert folds <= set(range(5)) and len(folds) == 5
    lab2 = (
        kfold_assign(df.repartition(13), "grp", 5)
        .select("grp", "fold")
        .distinct()
    )
    assert sorted(map(tuple, lab.collect())) == sorted(
        map(tuple, lab2.collect())
    )
    moved = (
        kfold_assign(df, "grp", 5, seed=7)
        .select("grp", F.col("fold").alias("f7"))
        .distinct()
        .join(lab, "grp")
        .filter("f7 != fold")
        .count()
    )
    assert moved > 0


def test_line_boilerplate_census_matches_python(spark):
    """line census == pure-Python line df counting on randomized
    multi-line docs with shared footers, empty lines and whitespace."""
    from calp_cva_tracking_pipeline_spark.operators.textops import (
        line_boilerplate_census,
    )

    rng = random.Random(1319)
    footers = ["footer one", "footer two", "menu | home"]
    rows = []
    for i in range(120):
        lines = [f"unique body {i} {rng.randint(0, 9)}"]
        for f in footers:
            if rng.random() < 0.5:
                lines.append("  " + f + "  ")
        if rng.random() < 0.2:
            lines.append("   ")
        rows.append((i, f"s{i % 4}", "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: (r.n_lines, r.n_boiler_lines, r.boiler_ppm,
                   r.n_distinct_boiler)
        for r in line_boilerplate_census(
            df, "doc_id", "text", "source", min_df=10
        ).collect()
    }

    df_count: dict[str, set] = {}
    per_src: dict[str, list] = {}
    for i, src, text in rows:
        for line in text.split("\n"):
            t = line.strip()
            if not t:
                continue
            df_count.setdefault(t, set()).add(i)
            per_src.setdefault(src, []).append(t)
    boiler = {t for t, s in df_count.items() if len(s) >= 10}
    exp = {}
    for src, lines in per_src.items():
        n = len(lines)
        nb = sum(1 for t in lines if t in boiler)
        exp[src] = (
            n,
            nb,
            1_000_000 * nb // n,
            len({t for t in lines if t in boiler}),
        )
    assert got == exp
