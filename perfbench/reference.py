"""Engine-free references for the benchmark's output checks.

- ``ChainTwin``: DuckDB replays EP1 (outgoing filter, shared-boundary
  priority dedup, both equal splits, org + deflator joins) and EP2's CVA
  amount cascade over the generated parquet, then the two EP3 sinks that
  are plain aggregates (per-location CVA, USA comparison). The cascade is
  spelled as the catalog's EP2 oracle spells it (``EP2_SQL`` in
  ``catalog/relational.py``), with this workload's constants; it is kept
  as a copy so that a change to the program cannot change its reference.
  It also replays EP3: the org-name matcher as the reference's stage-by-
  stage waterfall (code/10:88-285) and the sub-grant subtraction with its
  org-type rollup (code/10:300-324).
- ``catalog_oracle``: the catalog's own ``oracle_sql()`` text run in
  DuckDB over the generated tables, rows normalized the way
  ``tests/test_oracle_parity.py`` normalizes them.
"""

from __future__ import annotations

import decimal
import math
import re
from collections import defaultdict
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import gen_flows as gf


def _q(items) -> str:
    return ", ".join("'" + s.replace("'", "''") + "'" for s in items)


def _stub_conf(text: str) -> str:
    return f"((coalesce(length({text}), 0) * 2654435761) % 1000) / 1000.0"


_AMOUNTS = f"""
WITH f AS (SELECT * FROM raw_flows WHERE boundary <> 'outgoing'),
dd AS (
  SELECT * FROM f WHERE onBoundary IS NULL OR onBoundary <> 'shared'
  UNION ALL
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY
      CASE boundary WHEN 'incoming' THEN 0 WHEN 'internal' THEN 1
      ELSE 2 END) AS rn
    FROM f WHERE onBoundary = 'shared') WHERE rn = 1),
sy AS (
  SELECT * EXCLUDE ("{gf.YEAR_COL}", amountUSD),
    amountUSD / len(string_split("{gf.YEAR_COL}", ';')) AS amountUSD,
    unnest(list_transform(string_split("{gf.YEAR_COL}", ';'),
                          x -> trim(x))) AS usage_year
  FROM dd),
sl AS (
  SELECT * EXCLUDE ("{gf.LOC_COL}", amountUSD),
    amountUSD / len(string_split("{gf.LOC_COL}", ';')) AS amountUSD,
    unnest(list_transform(string_split("{gf.LOC_COL}", ';'),
                          x -> trim(x))) AS location
  FROM sy),
cur AS (
  SELECT sl.*, CAST(usage_year AS INTEGER) AS year,
         COALESCE(d.gdp_defl, dac.gdp_defl) AS deflator,
         o.FTS_source_orgtype AS org_type
  FROM sl
  LEFT JOIN orgs o ON sl."{gf.ORG_ID_COL}" = o."{gf.ORG_ID_COL}"
  LEFT JOIN deflators d
    ON d.iso3 = o.source_org_iso3 AND d.year = CAST(usage_year AS INTEGER)
  LEFT JOIN dac_deflators dac ON dac.year = CAST(usage_year AS INTEGER)),
flows AS (
  SELECT id, amountUSD, method, description, status, year, location,
    "{gf.PROJECT_COL}" AS project_key,
    COALESCE("{gf.CLUSTER_COL}", '') AS cluster,
    "{gf.ORG_NAME_COL}" AS org_name, newMoney, org_type
  FROM cur),
joined AS (
  SELECT f.*, p.project_text, p.cva_percentage AS project_cva_percentage,
         COALESCE(dec.accepted, FALSE) AS accepted
  FROM flows f
  LEFT JOIN projects p ON f.project_key = p.project_id
  LEFT JOIN decisions dec ON f.id = dec.id
  WHERE f.amountUSD IS NOT NULL),
feat AS (
  SELECT *, concat_ws(' ', description, project_text) AS all_text
  FROM joined),
feat2 AS (
  SELECT *,
    CASE WHEN cluster LIKE '%;%'
              AND regexp_matches(cluster, '{"|".join(gf.CASH_CLUSTERS)}')
           THEN 'Partial'
         WHEN cluster IN ({_q(gf.CASH_CLUSTERS)}) THEN 'Full'
         WHEN method = '{gf.CTP}' THEN 'Full'
         ELSE 'None' END AS cc1,
    {_stub_conf('description')} AS predicted_confidence,
    regexp_matches(all_text,
                   '(?i)\\b({"|".join(gf.COMMON_WORDS)})\\b')
      AS common_words_match,
    CASE WHEN cluster IS NULL OR cluster = '' THEN 0
         ELSE len(string_split(cluster, ';')) END AS n_clusters
  FROM feat),
amounts AS (
  SELECT *,
    CASE
      WHEN cc1 = 'Full' THEN amountUSD
      WHEN cc1 = 'Partial'
        THEN CASE WHEN n_clusters > 0 THEN amountUSD / n_clusters END
      WHEN project_cva_percentage IS NOT NULL AND project_cva_percentage > 0
        THEN amountUSD * project_cva_percentage
      WHEN predicted_confidence >= 0.8 AND common_words_match THEN amountUSD
      WHEN accepted THEN amountUSD
      ELSE 0.0 END AS CVAamount
  FROM feat2)
"""

# the exact decimal sum; rounded in Python as Spark's ROUND does (below)
_BY_LOCATION = """
SELECT location, COUNT(*) AS n_flows,
       SUM(CAST(CVAamount AS DECIMAL(27,6))) AS cva_usd
FROM amounts
WHERE CVAamount > 0 AND isfinite(CVAamount)
GROUP BY location
"""

_USA = f"""
, base AS (SELECT * FROM amounts
           WHERE year = {gf.ANALYSIS_YEAR} AND status <> 'pledge'),
tot AS (SELECT location, SUM(CVAamount) AS v FROM base GROUP BY location),
usa AS (SELECT location, SUM(CVAamount) AS v FROM base
        WHERE org_name IN ({_q(gf.USA_ORGS)}) GROUP BY location)
SELECT COALESCE(t.location, u.location), t.v, COALESCE(u.v, 0.0)
FROM tot t FULL OUTER JOIN usa u ON t.location = u.location
"""

_TOTAL_M = """
SELECT SUM(CVAamount) / 1e6 FROM amounts WHERE CVAamount > 0
"""

# the org aggregate EP3 matches against and subtracts from, per raw org
# name; names are canonicalized, and their groups merged, in Python
_ORG_AGG = """
SELECT org_name, year, newMoney, org_type, SUM(CVAamount) / 1e6
FROM amounts WHERE CVAamount > 0
GROUP BY org_name, year, newMoney, org_type
"""

# names treated as "no recipient" (code/10:99-101)
UNMATCHABLE = ["unknown", "not provided potentially sensitive"]

# The matcher waterfall (code/10:117-210) over canonical distinct names
# l(name) and r(rname), one stage after another: exact, then the nearest
# name within the edit-distance threshold, then whole-word containment of
# the left name in the right one, then the reverse; each stage keeps its
# own tie-break. Canonical names hold no regex metacharacters (all ASCII
# punctuation became spaces), so they go into the patterns unquoted.
_MATCH = """
WITH pairs AS (
  SELECT name, rname, levenshtein(name, rname) AS d,
         greatest(1, ceil(length(name) * 0.2)) AS thr
  FROM l, r),
fuzzy AS (
  SELECT name, rname, row_number() OVER (
    PARTITION BY name ORDER BY d, rname) AS k
  FROM pairs WHERE name <> rname AND d <= thr),
sub_a AS (
  SELECT name, rname, row_number() OVER (
    PARTITION BY name ORDER BY length(rname), rname) AS k
  FROM pairs WHERE contains(rname, name)
    AND regexp_matches(rname, '\\b' || name || '\\b')),
sub_b AS (
  SELECT name, rname, row_number() OVER (
    PARTITION BY name ORDER BY rname) AS k
  FROM pairs WHERE contains(name, rname)
    AND regexp_matches(name, '\\b' || rname || '\\b'))
SELECT l.name,
  CASE WHEN e.rname IS NOT NULL THEN e.rname
       WHEN f.rname IS NOT NULL THEN f.rname
       WHEN a.rname IS NOT NULL THEN a.rname ELSE b.rname END,
  CASE WHEN e.rname IS NOT NULL THEN 'exact'
       WHEN f.rname IS NOT NULL THEN 'fuzzy'
       WHEN a.rname IS NOT NULL THEN 'substring_a'
       WHEN b.rname IS NOT NULL THEN 'substring_b' END
FROM l
LEFT JOIN r e ON e.rname = l.name
LEFT JOIN fuzzy f ON f.name = l.name AND f.k = 1
LEFT JOIN sub_a a ON a.name = l.name AND a.k = 1
LEFT JOIN sub_b b ON b.name = l.name AND b.k = 1
"""

_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")


def canonical(name: str) -> str:
    """lower -> ASCII punctuation to space -> collapse whitespace -> trim
    (code/10:88-105)."""
    return re.sub(r"\s+", " ", _PUNCT.sub(" ", name.lower())).strip(" ")


def match_names(con, left: list[str], right: list[str],
                overrides: list[tuple[str, str]]) -> dict:
    """canonical left name -> (matched right name or None, stage or None);
    the manual (from, to) overrides are applied last, unconditionally."""
    lc = sorted({canonical(n) for n in left} - {""} - set(UNMATCHABLE))
    rc = sorted({canonical(n) for n in right} - {""})
    con.execute("CREATE OR REPLACE TEMP TABLE l (name VARCHAR)")
    con.execute("CREATE OR REPLACE TEMP TABLE r (rname VARCHAR)")
    con.executemany("INSERT INTO l VALUES (?)", [[n] for n in lc])
    con.executemany("INSERT INTO r VALUES (?)", [[n] for n in rc])
    out = {r[0]: (r[1], r[2]) for r in con.execute(_MATCH).fetchall()}
    for name, target in overrides:
        if name in out:
            out[name] = (target, "manual")
    return out


def spark_round6(v: float) -> float:
    """Spark's ROUND(double, 6): half-up on the double's shortest decimal
    spelling. DuckDB's ROUND on DOUBLE rounds an exact half such as
    66.9156975 down (its binary value is just below it); Spark rounds up."""
    return float(decimal.Decimal(repr(v)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


class ChainTwin:
    """Reference outputs of the chain, computed once per process."""

    def __init__(self, data_dir: Path):
        con = duckdb.connect()
        try:
            for name in ("raw_flows", "orgs", "deflators", "dac_deflators",
                         "projects", "decisions"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{data_dir / (name + '.parquet')}'")
            self.by_location = {
                r[0]: (r[1], spark_round6(float(r[2]) / 1e6))
                for r in con.execute(_AMOUNTS + _BY_LOCATION).fetchall()
            }
            self.usa = {
                r[0]: (r[1], r[2])
                for r in con.execute(_AMOUNTS + _USA).fetchall()
            }
            self.total_m = con.execute(_AMOUNTS + _TOTAL_M).fetchone()[0]
            agg = defaultdict(float)
            for org, year, new_money, org_type, pc in con.execute(
                    _AMOUNTS + _ORG_AGG).fetchall():
                agg[(canonical(org), year, new_money, org_type)] += pc
            sub_grants = pq.read_table(data_dir / "sub_grants.parquet")
            self.mapping = match_names(
                con, sub_grants.column("recipient_name").to_pylist(),
                [k[0] for k in agg], [gf.MANUAL_OVERRIDE])
        finally:
            con.close()
        # sub-grants count as newMoney FALSE and are subtracted from the
        # matched org's (org, year) total with a zero floor (code/10:301-315)
        sub = defaultdict(float)
        for rec, year, amount in zip(*sub_grants.to_pydict().values()):
            matched = self.mapping.get(canonical(rec), (None,))[0]
            if matched is not None:
                sub[(matched, year)] += amount
        pc_by_type = defaultdict(float)
        for (org, year, new_money, org_type), pc in agg.items():
            taken = sub[(org, year)] if new_money == "FALSE" else 0.0
            pc_by_type[(year, org_type)] += max(0.0, pc - taken)
        factor = dict(gf.PC_TV)
        # (Year, Org_type) -> (PC.USD.m, TV.USD.m)  (code/10:316-319)
        self.rollup = {k: (pc, pc * factor[k[0]])
                       for k, pc in pc_by_type.items()}


# -- catalog oracle -----------------------------------------------------------

def _norm_val(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # -0.0 == 0.0: DuckDB's ROUND keeps the sign of a tiny negative
        # mean (emb_kmeans, seed 106) where Spark's decimal rounding does not
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows, cols) -> list:
    """Columns sorted by name, values formatted, rows sorted by repr."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def catalog_oracle(sql: str, data_dir: Path) -> tuple[list[str], list]:
    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{data_dir / (name + '.parquet')}'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return sorted(cols), normalize(res.fetchall(), cols)
    finally:
        con.close()
