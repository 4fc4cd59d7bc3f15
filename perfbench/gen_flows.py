"""Seeded FTS-shaped inputs for the ``cva_pipeline`` workload.

``generate(seed)`` is a pure function: it draws raw flows and every
dimension the EP1 -> EP3 chain joins (isos, orgs, deflators with gaps that
force the DAC fallback, projects, decisions, sub-grants, PC->TV factors)
from ``numpy.random.default_rng(seed)`` alone, and computes the reference
counts and sums the output checks compare against from its own arrays. No
Spark and no package import, so the tests run without a JVM.

The constants below fix the properties the chain's cost depends on. The
sizes lean on what the reference records (BASELINE.md); the shares are
assumptions, since the reference ships no raw FTS extract to count them
in (README.md, "Where the shape comes from").

Amounts are whole multiples of 36, so every equal split by 1-3 years times
1-3 locations stays a whole number and the undeflated sums are exact in
double arithmetic on both engines.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR_COL = "destinationObjects_UsageYear.name"
LOC_COL = "destinationObjects_Location.name"
CLUSTER_COL = "destinationObjects_Cluster.name"
PROJECT_COL = "destinationObjects_Project.id"
ORG_ID_COL = "sourceObjects_Organization.id"
ORG_NAME_COL = "sourceObjects_Organization.name"

YEARS = list(range(2016, 2025))
ANALYSIS_YEAR = 2023
CTP = "Cash transfer programming (CTP)"
CASH_CLUSTERS = ["Multi-Purpose Cash", "Cash"]
CLUSTERS = CASH_CLUSTERS + ["Food Security", "Health", "Shelter", "Protection"]
KEYWORDS = ["cash", "voucher", "cash transfer", "cct", "mpc"]
COMMON_WORDS = ["cash", "voucher", "vouchers", "cva", "coupon"]
USA_ORGS = [
    "United States of America, Government of",
    "United States Department of State",
    "United States Agency for International Development",
]
# the manual-decision dimension: every flow id divisible by this is an
# accepted review (the same rule the catalog's EP2 twin spells in SQL)
DECISION_STRIDE = 97
MANUAL_OVERRIDE = ("acme subgrantee", "acme global")
PC_TV = [(y, 1.5 + 0.5 * (y % 3)) for y in YEARS]  # binary-exact factors

_DESC_WORDS = (
    "food shelter health water support relief emergency response "
    "assistance displaced families children nutrition programme "
    "livelihoods recovery protection education winter kits"
).split()
_CASH_WORDS = ["cash", "voucher", "vouchers", "cash transfer", "mpc", "cva"]
_NAME_A = (
    "Global Local United Northern Southern Eastern Western Central "
    "International National Community Regional Rural Urban Mountain "
    "Coastal Delta River Desert Island Valley Highland Lowland"
).split()
_NAME_B = (
    "Relief Aid Hope Care Action Health Water Food Children Women "
    "Development Peace Rescue Support Response Shelter Education Futures "
    "Partners Alliance Network Solidarity"
).split()
_NAME_C = (
    "Foundation Trust Council Committee Society Association Initiative "
    "Organisation Agency Fund Mission Services"
).split()
_SYLL = "ka lo mi ra te su no ba di fe go hu ja ke li ma ne po ri sa".split()
_ORG_TYPES = ["Government", "NGO", "UN agency", "Red Cross/Red Crescent",
              "Private"]


N_FLOWS = 10_000  # base flows, before boundary copies and splits
# flows recorded on a shared boundary, emitted as an incoming and an
# internal copy (sometimes also an outgoing one) that the priority dedup
# collapses back to one row
DUP_SHARE = 0.12
# '; '-packed usage years and locations, which the equal split explodes
MULTI_YEAR_SHARE = 0.2
MULTI_LOC_SHARE = 0.15
# distinct source-org names; the EP3 matcher is a cross join of recipient
# names against them, so its cost grows with the square
N_ORGS = 120
PROJECT_COVERAGE = 0.7  # share of flows that name a project
N_LOCATIONS = 60
N_DONOR_COUNTRIES = 30


@dataclass
class FlowsData:
    """Generated tables (name -> pyarrow.Table) plus reference figures."""

    tables: dict[str, pa.Table]
    expected: dict[str, float] = field(default_factory=dict)
    # one (spelling, org name, kind) per sub-grant row, in table order
    recipients: list[tuple[str, str, str]] = field(default_factory=list)

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.tables):
            h.update(name.encode())
            t = self.tables[name]
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            h.update(sink.getvalue().to_pybytes())
        h.update(repr(self.recipients).encode())
        return h.hexdigest()

    def write(self, out_dir: Path) -> None:
        out_dir.mkdir(parents=True, exist_ok=True)
        for name, t in self.tables.items():
            pq.write_table(t, out_dir / f"{name}.parquet")


def _pseudo_words(rng, n: int, lo: int, hi: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(lo, hi + 1))
        words.add("".join(rng.choice(_SYLL, k)).capitalize())
    return sorted(words)


def _org_names(rng, n: int) -> list[str]:
    names = set(USA_ORGS)
    while len(names) < n:
        names.add(
            f"{rng.choice(_NAME_A)} {rng.choice(_NAME_B)} {rng.choice(_NAME_C)}"
        )
    names = sorted(names)
    rng.shuffle(names)
    return names


def _packed(rng, pool: list, n: int, share: float, max_parts: int):
    """n '; '-packed strings over ``pool``; returns (strings, parts lists)."""
    packs, parts = [], []
    multi = rng.random(n) < share
    first = rng.integers(0, len(pool), n)
    extra = rng.integers(2, max_parts + 1, n)
    for i in range(n):
        if multi[i]:
            k = int(extra[i])
            idx = [(int(first[i]) + j * 7) % len(pool) for j in range(k)]
        else:
            idx = [int(first[i])]
        vals = [pool[j] for j in idx]
        parts.append(vals)
        packs.append("; ".join(str(v) for v in vals))
    return packs, parts


# sub-grant recipient spellings derived from an org name, each aimed at
# one matcher stage (kind -> spelling)
RECIPIENT_KINDS = {
    "identity": lambda name: name,                     # exact
    "dropped_letter": lambda name: name[:-1],          # fuzzy
    "first_word": lambda name: name.split(" ")[0],     # substring_a
    "intl_division": lambda name: name + " intl division",  # substring_b
    "unmatchable": lambda name: "unknown",             # dropped
    "manual": lambda name: MANUAL_OVERRIDE[0].title(),  # manual override
}


def generate(seed: int) -> FlowsData:
    rng = np.random.default_rng(seed)
    n = N_FLOWS

    locations = _pseudo_words(rng, N_LOCATIONS, 2, 4)
    donors = [w.upper()[:3] + str(i % 10) for i, w in
              enumerate(_pseudo_words(rng, N_DONOR_COUNTRIES, 2, 3))]
    org_names = _org_names(rng, N_ORGS)
    org_ids = [f"O{i}" for i in range(N_ORGS)]

    # -- dimensions -------------------------------------------------------
    iso_known = rng.random(len(locations)) > 0.05  # 5% miss -> null iso3
    isos = pa.table({
        "countryname_fts": [c for c, k in zip(locations, iso_known) if k],
        "iso3": [c[:3].upper() + str(i) for i, (c, k) in
                 enumerate(zip(locations, iso_known)) if k],
    })
    org_known = rng.random(N_ORGS) > 0.03  # 3% miss -> DAC fallback
    org_country = rng.integers(0, len(donors), N_ORGS)
    org_type = rng.integers(0, len(_ORG_TYPES), N_ORGS)
    orgs = pa.table({
        ORG_ID_COL: [o for o, k in zip(org_ids, org_known) if k],
        "source_org_country": [f"Country {donors[org_country[i]]}"
                               for i in range(N_ORGS) if org_known[i]],
        "source_org_iso3": [donors[org_country[i]]
                            for i in range(N_ORGS) if org_known[i]],
        "FTS_source_orgtype": [_ORG_TYPES[org_type[i]]
                               for i in range(N_ORGS) if org_known[i]],
    })
    defl = {}
    for iso in donors:
        for y in YEARS:
            if rng.random() > 0.1:  # 10% gaps -> DAC fallback
                defl[(iso, y)] = round(0.8 + 0.4 * float(rng.random()), 4)
    dac = {y: round(0.9 + 0.2 * float(rng.random()), 4) for y in YEARS}
    deflators = pa.table({
        "iso3": [k[0] for k in defl], "year": pa.array(
            [k[1] for k in defl], pa.int32()),
        "gdp_defl": list(defl.values()),
    })
    dac_deflators = pa.table({
        "year": pa.array(list(dac), pa.int32()), "gdp_defl": list(dac.values())
    })

    # -- base flows ---------------------------------------------------------
    ids = np.arange(1, n + 1, dtype=np.int64)
    amount = rng.integers(1, 50_000, n).astype(np.float64) * 36.0
    amount_null = rng.random(n) < 0.005
    years_s, years_p = _packed(rng, YEARS, n, MULTI_YEAR_SHARE, 3)
    # multi-year packs are consecutive years, clipped to the range
    for i, p in enumerate(years_p):
        if len(p) > 1:
            y0 = min(p[0], YEARS[-1] - len(p) + 1)
            years_p[i] = list(range(y0, y0 + len(p)))
            years_s[i] = "; ".join(str(y) for y in years_p[i])
    locs_s, locs_p = _packed(rng, locations, n, MULTI_LOC_SHARE, 3)
    # org popularity is skewed: a few large donors, a long tail
    w = 1.0 / (np.arange(N_ORGS) + 5.0)
    org = rng.choice(N_ORGS, n, p=w / w.sum())
    n_proj = max(1, n // 20)
    has_proj = rng.random(n) < PROJECT_COVERAGE
    proj = rng.integers(0, n_proj, n)
    cl_multi = rng.random(n) < 0.15
    cl_first = rng.integers(0, len(CLUSTERS), n)
    cl_second = (cl_first + rng.integers(1, len(CLUSTERS), n)) % len(CLUSTERS)
    cl_none = rng.random(n) < 0.1
    status = rng.choice(["paid", "commitment", "pledge"], n, p=[.6, .3, .1])
    method = np.where(rng.random(n) < 0.15, CTP, "Traditional aid")
    new_money = np.where(rng.random(n) < 0.5, "TRUE", "FALSE")
    n_desc = rng.integers(3, 12, n)
    desc_w = rng.integers(0, len(_DESC_WORDS), (n, 11))
    cash_at = np.where(rng.random(n) < 0.2, rng.integers(0, 3, n), -1)
    cash_w = rng.integers(0, len(_CASH_WORDS), n)
    descs = []
    for i in range(n):
        words = [_DESC_WORDS[j] for j in desc_w[i, : n_desc[i]]]
        if cash_at[i] >= 0:
            words.insert(int(cash_at[i]), _CASH_WORDS[cash_w[i]])
        descs.append(" ".join(words))

    # -- boundary copies: what EP1's filter + priority dedup must undo -----
    shared = rng.random(n) < DUP_SHARE
    single_bound = rng.choice(["incoming", "internal", "outgoing"], n,
                              p=[.7, .15, .15])
    shared_kind = rng.integers(0, 3, n)  # 0: in+int, 1: in+int+out, 2: int+out
    rows, bound, on_b = [], [], []
    for i in range(n):
        if not shared[i]:
            rows.append(i)
            bound.append(single_bound[i])
            on_b.append("single")
            continue
        copies = {0: ["incoming", "internal"],
                  1: ["incoming", "internal", "outgoing"],
                  2: ["internal", "outgoing"]}[int(shared_kind[i])]
        for b in copies:
            rows.append(i)
            bound.append(b)
            on_b.append("shared")
    rows = np.array(rows)
    order = rng.permutation(len(rows))
    rows = rows[order]
    bound = [bound[j] for j in order]
    on_b = [on_b[j] for j in order]

    def cluster(i):
        if cl_none[i]:
            return ""
        if cl_multi[i]:
            return f"{CLUSTERS[cl_first[i]]}; {CLUSTERS[cl_second[i]]}"
        return CLUSTERS[cl_first[i]]

    raw = pa.table({
        "id": pa.array(ids[rows], pa.int64()),
        "amountUSD": pa.array(amount[rows], pa.float64(),
                              mask=amount_null[rows]),
        "boundary": bound,
        "onBoundary": on_b,
        "status": [str(status[i]) for i in rows],
        "method": [str(method[i]) for i in rows],
        "newMoney": [str(new_money[i]) for i in rows],
        "description": [descs[i] for i in rows],
        YEAR_COL: [years_s[i] for i in rows],
        LOC_COL: [locs_s[i] for i in rows],
        CLUSTER_COL: [cluster(i) for i in rows],
        PROJECT_COL: [str(proj[i]) if has_proj[i] else None for i in rows],
        ORG_ID_COL: [org_ids[org[i]] for i in rows],
        ORG_NAME_COL: [org_names[org[i]] for i in rows],
    })

    # -- project features, decisions, sub-grants ---------------------------
    proj_known = rng.random(n_proj) < 0.85
    pct = np.round(rng.integers(0, 101, n_proj) / 100.0, 2)
    pct_null = rng.random(n_proj) < 0.3
    projects = pa.table({
        "project_id": [str(p) for p in range(n_proj) if proj_known[p]],
        "project_text": [
            " ".join(rng.choice(_DESC_WORDS + _CASH_WORDS[:2], 4))
            for p in range(n_proj) if proj_known[p]],
        "cva_percentage": pa.array(
            [pct[p] for p in range(n_proj) if proj_known[p]], pa.float64(),
            mask=np.array([pct_null[p] for p in range(n_proj)
                           if proj_known[p]])),
        "cva": [bool(rng.random() < 0.25) for p in range(n_proj)
                if proj_known[p]],
    })
    decided = ids[ids % DECISION_STRIDE == 0]
    decisions = pa.table({"id": pa.array(decided, pa.int64()),
                          "accepted": [True] * len(decided)})
    kinds = list(RECIPIENT_KINDS)
    recipients, rec_year, rec_amt = [], [], []
    for name in org_names:
        for _ in range(int(rng.integers(1, 3))):
            kind = kinds[int(rng.integers(0, len(kinds)))]
            recipients.append((RECIPIENT_KINDS[kind](name), name, kind))
            rec_year.append(int(rng.choice(YEARS)))
            rec_amt.append(int(rng.integers(1, 200)) / 100.0)
    sub_grants = pa.table({
        "recipient_name": [r[0] for r in recipients],
        "Year": pa.array(rec_year, pa.int32()),
        "amount": rec_amt,
    })
    pc_tv = pa.table({
        "Year": pa.array([y for y, _ in PC_TV], pa.int32()),
        "PC_average_used": [f for _, f in PC_TV],
    })

    # -- reference figures from the generator's own arrays -----------------
    kept = np.ones(n, bool)
    kept[~shared & (single_bound == "outgoing")] = False
    org_iso = {i: donors[org_country[i]] for i in range(N_ORGS)
               if org_known[i]}
    n_split = 0
    sum_amt = 0.0
    sum_defl = 0.0
    for i in np.flatnonzero(kept):
        ky, kl = len(years_p[i]), len(locs_p[i])
        n_split += ky * kl
        if amount_null[i]:
            continue
        sum_amt += amount[i]
        iso = org_iso.get(int(org[i]))
        for y in years_p[i]:
            d = defl.get((iso, y), dac[y])
            sum_defl += (amount[i] / ky) / d
    expected = {
        "rows_dedup": int(kept.sum()),
        "rows_split": int(n_split),
        "sum_amount": float(sum_amt),
        "sum_amount_defl": float(sum_defl),
    }
    return FlowsData(
        tables={
            "raw_flows": raw, "isos": isos, "orgs": orgs,
            "deflators": deflators, "dac_deflators": dac_deflators,
            "projects": projects, "decisions": decisions,
            "sub_grants": sub_grants, "pc_tv": pc_tv,
        },
        expected=expected,
        recipients=recipients,
    )
