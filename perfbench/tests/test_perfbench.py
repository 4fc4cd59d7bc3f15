"""The benchmark's own tests. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import sys
import zipfile
from pathlib import Path

import duckdb
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE)]

import gen_catalog  # noqa: E402
import gen_flows as gf  # noqa: E402
import reference as ref  # noqa: E402
import run  # noqa: E402
from workloads import Catalog, CvaPipeline  # noqa: E402


def test_flows_are_a_pure_function_of_seed():
    a, b, c = gf.generate(7), gf.generate(7), gf.generate(8)
    assert a.fingerprint() == b.fingerprint()
    assert a.expected == b.expected
    assert a.fingerprint() != c.fingerprint()


def test_catalog_tables_are_a_pure_function_of_seed():
    def fp(seed):
        t = gen_catalog.generate(seed, 50, 100)
        return {k: v.to_pydict() for k, v in t.items()}

    assert fp(3) == fp(3)
    assert fp(3) != fp(4)


@pytest.fixture(scope="module")
def chain(tmp_path_factory):
    wl = CvaPipeline(None, tmp_path_factory.mktemp("chain"), seed=5)
    wl.prepare_reference()
    return wl


def test_generator_figures_match_the_duckdb_replay(chain):
    """Two independent references of EP1 agree: the generator's own
    arithmetic and the DuckDB replay of filter, dedup and splits."""
    con = duckdb.connect()
    for name in ("raw_flows", "orgs", "deflators", "dac_deflators"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{chain.data_dir / (name + '.parquet')}'")
    sql = ref._AMOUNTS.split("flows AS (")[0].rstrip().rstrip(",")
    n, ids, amt, defl = con.execute(
        sql + " SELECT count(*), count(DISTINCT id), sum(amountUSD),"
        " sum(amountUSD / deflator) FROM cur").fetchone()
    exp = chain.data.expected
    assert (n, ids) == (exp["rows_split"], exp["rows_dedup"])
    assert amt == exp["sum_amount"]
    assert defl == pytest.approx(exp["sum_amount_defl"], rel=1e-12)


def test_reference_rounds_halves_up_as_spark_does():
    # the exact sum 66915697.5 USD of one location at seed 3
    assert ref.spark_round6(66915697.5 / 1e6) == 66.915698
    assert ref.spark_round6(-1.0000005) == -1.000001


def _write_curated(chain, drop_one: bool) -> None:
    con = duckdb.connect()
    for name in ("raw_flows", "orgs", "deflators", "dac_deflators"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{chain.data_dir / (name + '.parquet')}'")
    sql = ref._AMOUNTS.split("flows AS (")[0].rstrip().rstrip(",")
    limit = "LIMIT (SELECT count(*) - 1 FROM cur)" if drop_one else ""
    out = chain.out_dir / "curated"
    shutil.rmtree(out, ignore_errors=True)
    con.execute(
        f"COPY ({sql} SELECT id, amountUSD, amountUSD / deflator AS "
        f"amountUSD_defl, year FROM cur ORDER BY id {limit}) TO '{out}' "
        "(FORMAT PARQUET, PARTITION_BY (year))")


def test_perturbed_outputs_fail_their_checks(chain):
    _write_curated(chain, drop_one=False)
    rows = [{"location": k, "n_flows": n, "cva_usd_m": m}
            for k, (n, m) in chain.twin.by_location.items()]
    good = {"curate_flows": None, "cva_by_location": rows}
    assert chain._check_curate_flows(None) == ""
    assert chain._check_cva_by_location(rows) == ""

    _write_curated(chain, drop_one=True)
    bad_rows = [dict(r) for r in rows]
    bad_rows[0]["cva_usd_m"] += 1e-3
    assert chain._check_curate_flows(None) != ""
    assert chain._check_cva_by_location(bad_rows) != ""

    # the per-pass tally turns failed checks into a failed share
    out = {**good, "cva_by_location": bad_rows, "usa_comparison":
           RuntimeError("boom")}
    results = [r for r in chain.check(out)
               if r[0] in ("curate_flows", "cva_by_location",
                           "usa_comparison")]
    failed = sum(not ok for _, ok, _ in results)
    assert failed == 3 and 1 - failed / len(results) == 0.0


def test_matcher_twin_follows_the_generated_spellings(chain):
    """The twin maps each spelling the generator aimed at an unambiguous
    stage to that stage and to the org it was derived from."""
    mapping = chain.twin.mapping
    right = {m for m, _ in mapping.values()}
    stage = {"identity": "exact", "intl_division": "substring_b",
             "dropped_letter": "fuzzy"}
    seen = set()
    for spelling, org, kind in chain.data.recipients:
        name, own = ref.canonical(spelling), ref.canonical(org)
        if kind == "unmatchable":
            assert name not in mapping
        elif kind == "manual":
            assert mapping[name] == (gf.MANUAL_OVERRIDE[1], "manual")
        elif kind in stage and own in right:
            assert mapping[name] == (own, stage[kind])
            seen.add(kind)
    assert seen == set(stage)


def test_perturbed_ep3_outputs_fail_their_checks(chain):
    rows = [{"name": k, "matched_name": m, "match_method": how}
            for k, (m, how) in chain.twin.mapping.items()]
    assert chain._check_match_org_names(rows) == ""
    # a matcher that matches nothing, or one name to the wrong org
    unmatched = [{**r, "matched_name": None, "match_method": None}
                 for r in rows]
    assert chain._check_match_org_names(unmatched) != ""
    i = next(i for i, r in enumerate(rows) if r["match_method"] == "exact")
    other = next(r["matched_name"] for r in rows
                 if r["matched_name"] not in (None, rows[i]["matched_name"]))
    wrong = [dict(r) for r in rows]
    wrong[i]["matched_name"] = other
    assert chain._check_match_org_names(wrong) != ""

    rollup = [{"Year": y, "Org_type": t, "PC.USD.m": pc, "TV.USD.m": tv}
              for (y, t), (pc, tv) in chain.twin.rollup.items()]
    assert chain._check_subtract_subgrants(rollup) == ""
    # one group off by 10,000 USD
    undoubled = [dict(r) for r in rollup]
    taken = max(range(len(rollup)), key=lambda i: rollup[i]["PC.USD.m"])
    undoubled[taken]["PC.USD.m"] += 0.01
    assert chain._check_subtract_subgrants(undoubled) != ""


def test_catalog_check_flags_changed_rows(tmp_path):
    wl = Catalog(None, tmp_path, seed=1)
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    wl.oracle = {q: (sorted(cols), ref.normalize(rows, cols))
                 for q in wl.units}
    q = wl.units[0]
    ok = {u: (cols, rows) for u in wl.units}
    assert all(r[1] for r in wl.check(ok))
    bad = {**ok, q: (cols, [(1, 0.5), (2, 1.2500001)])}
    assert [r[0] for r in wl.check(bad) if not r[1]] == [q]
    # equal values compare equal, whatever the sign of a zero
    assert ref.normalize([(-0.0,)], ["v"]) == ref.normalize([(0.0,)], ["v"])


def test_benchmark_json_matches_the_metric_spec():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit(m["name"]) for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_stale_shipped_zip_is_detected(tmp_path):
    pkg = run.ROOT / run.PKG

    def ship(mutate: bool) -> None:
        with zipfile.ZipFile(tmp_path / "pkg.zip", "w") as zf:
            for p in sorted(pkg.rglob("*.py")):
                data = p.read_bytes()
                if mutate and p.name == "session.py":
                    data += b"\n# edited\n"
                zf.writestr(f"{run.PKG}/{p.relative_to(pkg)}", data)

    # no package zip shipped: nothing to compare is a failure, not a pass
    assert run.shipped_zip_mismatches(tmp_path) == [
        f"no {run.PKG} zip in {tmp_path}"]
    ship(mutate=False)
    assert run.shipped_zip_mismatches(tmp_path) == []
    ship(mutate=True)
    assert run.shipped_zip_mismatches(tmp_path) == [
        f"pkg.zip:{run.PKG}/session.py"]
