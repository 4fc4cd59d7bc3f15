"""The benchmark's workloads. Each drives the program only through its
public functions and checks what comes out against ``reference``.

A workload object writes its seeded inputs when built, computes its
references in ``prepare_reference()``, and exposes ``run_pass(tracer,
tag)``, which runs every step or query once and returns the outputs kept
for checking, and ``check(outputs)``, which returns one ``(unit, ok,
detail)`` per step or query. Checks run outside the timed region.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds

import gen_catalog
import gen_flows as gf
import reference as ref

CHAIN_STEPS = [
    "curate_flows", "classify_cva", "cva_by_location", "usa_comparison",
    "match_org_names", "subtract_subgrants",
]
# Catalog queries the ``catalog`` workload runs (see README.md for why
# each was chosen and what was left out).
CATALOG_QUERIES = ["ann_graph_frontier", "mm_phash_neardup"]
CATALOG_DOCS = 500
CATALOG_VECS = 128


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)


class CvaPipeline:
    """EP1 -> EP2 -> EP3 over generated FTS-shaped flows.

    EP1 writes curated flows per year (the reference's per-year cache) and
    EP2 writes the classified flows (its fts_output_CVA handoff); the EP3
    sinks read that output back, as the reference's scripts 10/11 do.
    """

    # steps whose sink is a year-partitioned write -> output directory;
    # the other EP3 steps collect their result
    SINKS = {"curate_flows": "curated", "classify_cva": "cva"}

    def __init__(self, spark, run_dir: Path, seed: int):
        self.spark = spark
        self.data_dir = run_dir / "flows"
        self.out_dir = run_dir
        self.data = gf.generate(seed)
        self.data.write(self.data_dir)

    def prepare_reference(self) -> None:
        self.twin = ref.ChainTwin(self.data_dir)

    def _read(self, name: str):
        return self.spark.read.parquet(str(self.data_dir / f"{name}.parquet"))

    def frames(self):
        """The chain's DataFrames, one per step, built lazily in order; a
        step's frame is built only after the previous step's sink ran."""
        from pyspark.sql import functions as F

        from calp_cva_tracking_pipeline_spark.functions.text import (
            canonicalize_name,
        )
        from calp_cva_tracking_pipeline_spark.plans import matching, pipelines

        yield "curate_flows", pipelines.curate_flows(
            self._read("raw_flows"), self._read("isos"), self._read("orgs"),
            self._read("deflators"), self._read("dac_deflators"))
        yield "classify_cva", pipelines.classify_cva(
            self.spark.read.parquet(str(self.out_dir / "curated")),
            self._read("projects"), self._read("decisions"),
            cash_clusters=gf.CASH_CLUSTERS, keywords=gf.KEYWORDS,
            common_words=gf.COMMON_WORDS)
        cva = self.spark.read.parquet(str(self.out_dir / "cva"))
        yield "cva_by_location", pipelines.cva_by_location(cva)
        yield "usa_comparison", pipelines.usa_comparison(
            cva, gf.USA_ORGS, year=gf.ANALYSIS_YEAR)
        # the org aggregate EP3 matches against and subtracts from
        # (reference code/10: clean_org x Year x newMoney x Org_type)
        cva_agg = (
            cva.filter(F.col("CVAamount") > 0)
            .groupBy(
                canonicalize_name(F.col(f"`{gf.ORG_NAME_COL}`")).alias(
                    "clean_org"),
                F.col("year").alias("Year"), "newMoney",
                F.col("FTS_source_orgtype").alias("Org_type"))
            .agg((F.sum("CVAamount") / 1e6).alias("PC.USD.m"))
        )
        sub_grants = self._read("sub_grants")
        # the mapping is computed once, as in the reference's script 10:
        # collecting it for its check fills the cache the subtraction reads
        mapping = matching.match_org_names(
            sub_grants.select("recipient_name"), cva_agg.select("clean_org"),
            manual_overrides=[gf.MANUAL_OVERRIDE]).cache()
        yield "match_org_names", mapping
        # the org-type rollup (cva_agg_org_type) is the sink of this step
        yield "subtract_subgrants", matching.subtract_subgrants(
            cva_agg, sub_grants, mapping, self._read("pc_tv"))[1]

    def run_pass(self, tr, tag: str) -> dict:
        out = {}
        frames = self.frames()
        for step in CHAIN_STEPS:
            try:
                out[step] = self._step(tr, tag, step, frames)
            except Exception as exc:  # counted as a failed step
                out[step] = exc
        return out

    def _step(self, tr, tag, step, frames):
        from calp_cva_tracking_pipeline_spark.sources.files import (
            write_partitioned,
        )

        with tr.span(step, layer="plans"):
            with tr.span("build", layer="plans", group=f"{tag}|{step}|build"):
                _, df = next(frames)
            if step in self.SINKS:
                with tr.span("sink", layer="sources",
                             group=f"{tag}|{step}|sink"):
                    write_partitioned(
                        df, str(self.out_dir / self.SINKS[step]), "year")
                return None
            with tr.span("sink", layer="exec", group=f"{tag}|{step}|sink"):
                return df.collect()

    def profile(self, tr, tag: str) -> dict[str, tuple[float, int]]:
        """Traced runs only: materialize each step's frame with a noop sink
        on an empty cache; returns step -> (marginal seconds, rows out).
        EP2 and EP3 start from the written handoffs, so a step's marginal
        is its own time, except subtract_subgrants, which extends
        match_org_names' prefix and is charged the difference."""
        import time

        took, rows = {}, {}
        for step, df in self.frames():
            self.spark.catalog.clearCache()
            with tr.span(step, layer="profile", group=f"{tag}|{step}|sink"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                took[step] = time.perf_counter() - t0
            rows[step] = df.count()
        took["subtract_subgrants"] -= took["match_org_names"]
        return {s: (took[s], rows[s]) for s in CHAIN_STEPS}

    def written(self) -> tuple[int, int]:
        files = [p for d in self.SINKS.values()
                 for p in (self.out_dir / d).rglob("*.parquet")]
        return len(files), sum(p.stat().st_size for p in files)

    # -- checks -------------------------------------------------------------

    def check(self, out: dict) -> list[tuple[str, bool, str]]:
        res = []
        for step in CHAIN_STEPS:
            if isinstance(out.get(step), Exception):
                res.append((step, False, f"raised {out[step]!r}"[:300]))
                continue
            try:
                detail = getattr(self, f"_check_{step}")(out[step])
            except Exception as exc:  # a malformed output is a failed check
                detail = f"check raised {exc!r}"
            res.append((step, detail == "", detail))
        return res

    def _check_curate_flows(self, _):
        t = self._written_table("curated",
                                ["id", "amountUSD", "amountUSD_defl"])
        exp = self.data.expected
        got = {
            "rows_split": t.num_rows,
            "rows_dedup": len(np.unique(t.column("id").to_numpy())),
            "sum_amount": float(np.nansum(
                t.column("amountUSD").to_numpy(zero_copy_only=False))),
            "sum_amount_defl": float(np.nansum(
                t.column("amountUSD_defl").to_numpy(zero_copy_only=False))),
        }
        bad = [k for k in exp if not _close(got[k], exp[k])]
        return "" if not bad else f"curated {got} != generator {exp}"

    def _written_table(self, name: str, columns: list[str]):
        return ds.dataset(str(self.out_dir / name), format="parquet",
                          partitioning="hive").to_table(columns=columns)

    def _check_classify_cva(self, _):
        amt = self._written_table("cva", ["CVAamount"]).column(
            "CVAamount").to_numpy(zero_copy_only=False)
        total = float(np.nansum(amt[amt > 0])) / 1e6
        if not _close(total, self.twin.total_m):
            return f"CVA total {total} != reference {self.twin.total_m}"
        return ""

    def _check_cva_by_location(self, rows):
        got = {r["location"]: (r["n_flows"], r["cva_usd_m"]) for r in rows}
        want = self.twin.by_location
        if got.keys() != want.keys():
            return f"locations differ: {sorted(got.keys() ^ want.keys())[:5]}"
        bad = [k for k in want if got[k][0] != want[k][0]
               or not _close(got[k][1], want[k][1], 1e-12)]
        return "" if not bad else f"by_location differs at {bad[:3]}"

    def _check_usa_comparison(self, rows):
        loc = gf.LOC_COL
        got = {r[loc]: (r["CVAamount"], r["CVAamount_USA"]) for r in rows}
        want = self.twin.usa
        if got.keys() != want.keys():
            return "usa locations differ"
        for k, (tot, usa) in want.items():
            g = got[k]
            if not (_close(g[0], tot) and _close(g[1], usa)):
                return f"usa differs at {k}: {g} != {(tot, usa)}"
        return ""

    def _check_match_org_names(self, rows):
        got = {r["name"]: (r["matched_name"], r["match_method"]) for r in rows}
        want = self.twin.mapping
        if got.keys() != want.keys():
            diff = sorted(got.keys() ^ want.keys())
            return f"matched names differ: {diff[:5]}"
        bad = [k for k in want if got[k] != want[k]]
        return "" if not bad else (
            f"mapping differs at {bad[:3]}: "
            f"{[got[k] for k in bad[:3]]} != {[want[k] for k in bad[:3]]}")

    def _check_subtract_subgrants(self, rollup):
        got = {(r["Year"], r["Org_type"]): (r["PC.USD.m"], r["TV.USD.m"])
               for r in rollup}
        want = self.twin.rollup
        if got.keys() != want.keys():
            diff = sorted(got.keys() ^ want.keys(), key=repr)
            return f"rollup groups differ: {diff[:5]}"
        bad = [k for k in want
               if not all(_close(g, w) for g, w in zip(got[k], want[k]))]
        return "" if not bad else (
            f"rollup differs at {bad[:3]}: {[got[k] for k in bad[:3]]} "
            f"!= {[want[k] for k in bad[:3]]}")


class Catalog:
    """Catalog queries over generated documents/embeddings tables."""

    def __init__(self, spark, run_dir: Path, seed: int):
        self.spark = spark
        self.data_dir = run_dir / "tables"
        gen_catalog.write(
            gen_catalog.generate(seed, CATALOG_DOCS, CATALOG_VECS),
            self.data_dir)
        order = np.random.default_rng(seed).permutation(len(CATALOG_QUERIES))
        self.units = [CATALOG_QUERIES[i] for i in order]

    def prepare_reference(self) -> None:
        from calp_cva_tracking_pipeline_spark import catalog

        sql = catalog.oracle_sql()
        self.queries = catalog.queries()
        self.oracle = {q: ref.catalog_oracle(sql[q], self.data_dir)
                       for q in self.units}

    def run_pass(self, tr, tag: str) -> dict:
        out = {}
        for q in self.units:
            try:
                with tr.span(q, layer="catalog"):
                    with tr.span("build", layer="catalog",
                                 group=f"{tag}|{q}|build"):
                        df = self.queries[q](self.spark, str(self.data_dir))
                    with tr.span("execute", layer="exec",
                                 group=f"{tag}|{q}|execute"):
                        out[q] = (df.columns, df.collect())
            except Exception as exc:  # counted as a failed query
                out[q] = exc
        return out

    def check(self, out: dict) -> list[tuple[str, bool, str]]:
        res = []
        for q in self.units:
            if isinstance(out.get(q), Exception):
                res.append((q, False, f"raised {out[q]!r}"[:300]))
                continue
            cols, rows = out[q]
            want_cols, want_rows = self.oracle[q]
            got = ref.normalize([tuple(r) for r in rows], cols)
            if sorted(cols) != want_cols:
                res.append((q, False, f"columns {sorted(cols)}"))
            elif got != want_rows:
                res.append((q, False, f"{len(got)} rows vs oracle "
                                      f"{len(want_rows)}, values differ"))
            else:
                res.append((q, True, ""))
        return res


WORKLOADS = {"cva_pipeline": CvaPipeline, "catalog": Catalog}
