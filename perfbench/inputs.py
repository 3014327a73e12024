"""Seeded input generators. Every input of every workload is a pure
function of the seed (and of the sizes fixed in the workload modules);
the program under test receives only what these functions produce."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ fixtures

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "small", "hot", "old", "large", "blue", "green", "steel"]
P_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "es", "de", "fr"]


FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents",
]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("timedelta64[us]"))


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus ``events`` and ``documents``, with
    the column names and types the catalog queries read. ``scale`` 0.01
    gives 60k lineitems."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events, n_docs = int(1_500_000 * scale), int(1_000_000 * scale), int(50_000 * scale)
    n_users = max(10, int(15_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, n_part), 2)),
    })
    odate = rng.integers(0, 2404, n_ord) * 86400
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n_li) * qty / 25.0 + 900.0, 2)
    ship = odate[l_order] + rng.integers(1, 122, n_li) * 86400
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts("1995-01-01", ship),
    })
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events, p=[0.4, 0.3, 0.1, 0.1, 0.1])),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 90, n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    return t


def write_fixture(sf_dir: str, seed: int, scale: float, n_files: int = 4) -> int:
    """Write every fixture table as ``<name>.parquet/part-*.parquet``.
    The seed also permutes row order and picks where the files split
    (uneven sizes), so the physical layout varies with it; the number of
    files, and with it the number of scan tasks, does not. Returns the
    bytes written."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in fixture_tables(seed, scale).items():
        d = os.path.join(sf_dir, f"{name}.parquet")
        os.makedirs(d)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        n = n_files if table.num_rows > 100 else 1
        share = np.cumsum(rng.uniform(0.5, 1.5, n))
        cuts = np.concatenate([[0], np.round(share / share[-1] * table.num_rows)]).astype(int)
        for i in range(n):
            p = os.path.join(d, f"part-{i:03d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
            total += os.path.getsize(p)
    return total


# ----------------------------------------------------------- etl_ingest

FUELS = ["COL", "NG", "NUC", "OIL", "SUN", "WAT", "WND", "OTH"]
RESPONSE_TYPES = ["D", "DF", "NG", "TI"]
STATES = [f"S{i:02d}" for i in range(50)]
OVERLAP_HOURS = 6  # each fetch re-reads the tail of the previous day
LATE_HOURS = 2  # and runs past the day's cutoff, which cleaning trims

FUEL_SCHEMA = (
    "period STRING, respondent STRING, fromba STRING, `respondent-name` STRING, "
    "fueltype STRING, `type-name` STRING, value STRING, `value-units` STRING"
)
REGION_SCHEMA = (
    "period STRING, respondent STRING, fromba STRING, `respondent-name` STRING, "
    "type STRING, `type-name` STRING, value STRING, `value-units` STRING"
)
WEATHER_SCHEMA = (
    "latitude DOUBLE, longitude DOUBLE, start_s LONG, end_s LONG, "
    "interval_s LONG, values ARRAY<ARRAY<DOUBLE>>"
)
EIA7A_SCHEMA = (
    "period STRING, countryId STRING, countryDescription STRING, "
    "customsDistrictId STRING, customsDistrictDescription STRING, price STRING"
)
EIA814_SCHEMA = (
    "period STRING, originId STRING, originName STRING, quantity STRING, "
    "`quantity-units` STRING"
)


class EtlInputs:
    """Bronze API pages for consecutive days of the four DAGs.

    Day ``d`` fetches the EIA-930 fuel-type feed for hours [d 00:00,
    d+1 02:00) and the region feed for [d-1 18:00, d+1 02:00), both cut
    off at d+1 00:00; one Open-Meteo response per coordinate; one
    EIA-7A page set whose rows span the previous and the current
    quarter (cleaning keeps the current one); and EIA-814 pages for
    the previous and the current month. Every third day re-fetches the
    previous day's Open-Meteo responses unchanged. Every hour's rows
    come from an RNG keyed on (seed, hour), so overlaps and replays
    re-serve identical rows.

    Re-offered keys reach only the tables whose merge keys lead their
    DDL column order. ``warehouse.catalog.merge_idempotent`` inserts by
    position after a USING join, which moves the key columns first; for
    ``eia930_cleaned_hourly_net_generation`` and the EIA-7A table the
    keys do not lead, so their rows land column-shifted and a re-offered
    key is not recognised. The fuel-type feed and EIA-7A therefore
    never re-offer a landed key here."""

    BASE = dt.datetime(2024, 1, 1)

    def __init__(self, seed: int, n_ba: int, n_coords: int, n_vars: int):
        self.seed, self.n_ba, self.n_coords, self.n_vars = seed, n_ba, n_coords, n_vars
        rng = np.random.default_rng([seed, 10])
        self.bas = [f"BA{i:03d}" for i in range(n_ba)]
        # ~10% of respondents are missing from the BA dimension
        self.ba_dim = sorted(b for b in self.bas if rng.random() >= 0.1)
        # which respondents report the region feed under 'fromba'
        self.fromba = {b for b in self.bas if rng.random() < 0.2}
        lats = np.round(rng.uniform(25.0, 49.0, n_coords), 4)
        lons = np.round(rng.uniform(-124.0, -67.0, n_coords), 4)
        self.coords = [
            (STATES[i % len(STATES)], float(lats[i]), float(lons[i])) for i in range(n_coords)
        ]

    @staticmethod
    def weather_day(day: int) -> int:
        """The day whose Open-Meteo responses op day ``day`` fetches:
        every third day (2, 5, 8, ...) is a replay of the previous day.
        The schedule is fixed so that every seed does the same work on
        the same day."""
        return day - 1 if day % 3 == 2 else day

    # -- time axis
    def cutoff(self, day: int) -> str:
        return (self.BASE + dt.timedelta(days=day + 1)).strftime("%Y-%m-%d %H:%M:%S")

    def hours(self, day: int, overlap: int = 0) -> range:
        return range(day * 24 - overlap, day * 24 + 24 + LATE_HOURS)

    def _period(self, hour: int) -> str:
        return (self.BASE + dt.timedelta(hours=hour)).strftime("%Y-%m-%dT%H")

    # -- EIA-930
    def _hour_values(self, hour: int, n: int) -> list[str]:
        rng = np.random.default_rng([self.seed, 11, hour + 10_000])
        vals = np.round(rng.gamma(2.0, 400.0, n), 1).astype(str).tolist()
        for i in np.flatnonzero(rng.random(n) < 0.01):
            vals[i] = "N/A"
        return vals

    def _feed(self, day: int, kinds: list[str], kind_col: str, offset: int) -> list[dict]:
        rows = []
        for hour in self.hours(day, OVERLAP_HOURS if offset else 0):
            vals = self._hour_values(hour * 4 + offset, len(self.bas) * len(kinds))
            period = self._period(hour)
            i = 0
            for ba in self.bas:
                key = "fromba" if (offset == 1 and ba in self.fromba) else "respondent"
                for k in kinds:
                    rows.append({
                        "period": period, key: ba, "respondent-name": f"{ba} Authority",
                        kind_col: k, "type-name": f"{k} name", "value": vals[i],
                        "value-units": "megawatthours",
                    })
                    i += 1
        return rows

    def fuel_rows(self, day: int) -> list[dict]:
        return self._feed(day, FUELS, "fueltype", 0)

    def region_rows(self, day: int) -> list[dict]:
        return self._feed(day, RESPONSE_TYPES, "type", 1)

    # -- Open-Meteo
    def weather_rows(self, day: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, 12, day])
        start = int((self.BASE + dt.timedelta(days=day)).replace(tzinfo=dt.timezone.utc).timestamp())
        vals = np.round(rng.normal(10.0, 5.0, (self.n_coords, self.n_vars, 24)), 3)
        vals[rng.random(vals.shape) < 0.005] = np.nan
        return [
            {"latitude": lat, "longitude": lon, "start_s": start, "end_s": start + 86400,
             "interval_s": 3600, "values": vals[i].tolist()}
            for i, (_s, lat, lon) in enumerate(self.coords)
        ]

    # -- EIA-7A (one quarter per day) and EIA-814 (one month per day)
    def eia7a_quarter(self, day: int) -> str:
        q = 2015 * 4 + day
        return f"{q // 4}-Q{q % 4 + 1}"

    def eia7a_rows(self, day: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, 13, day])
        rows = []
        for period in {self.eia7a_quarter(max(0, day - 1)), self.eia7a_quarter(day)}:
            for c in range(40):
                for district in ("D1", "D2", "Total"):
                    price = "withheld" if rng.random() < 0.05 else f"{rng.uniform(40, 200):.2f}"
                    rows.append({
                        "period": period, "countryId": f"C{c:02d}",
                        "countryDescription": f"Country {c}", "customsDistrictId": district,
                        "customsDistrictDescription": district if district == "Total" else f"District {district}",
                        "price": price,
                    })
        return sorted(rows, key=lambda r: (r["period"], r["countryId"], r["customsDistrictId"]))

    def eia814_month(self, day: int) -> str:
        m = 2015 * 12 + day
        return f"{m // 12}-{m % 12 + 1:02d}"

    def eia814_rows(self, day: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, 14, day])
        rows = []
        for period in sorted({self.eia814_month(max(0, day - 1)), self.eia814_month(day)}):
            for o in range(60):
                rows.append({
                    "period": period, "originId": f"O{o:02d}", "originName": f"Origin {o}",
                    "quantity": f"{rng.integers(1, 5000)}", "quantity-units": "thousand barrels",
                })
        return rows

    def pages_bytes(self, day: int) -> bytes:
        """Every bronze row one op day serves, serialised — the bytes the
        determinism test compares."""
        doc = {
            "fuel": self.fuel_rows(day), "region": self.region_rows(day),
            "weather": self.weather_rows(self.weather_day(day)),
            "eia7a": self.eia7a_rows(day), "eia814": self.eia814_rows(day),
        }
        return json.dumps(doc, sort_keys=True).encode()

    # -- expected warehouse contents
    def expected_keys(self, day: int) -> dict[str, list[tuple]]:
        """The merge keys of every row each warehouse table is offered
        when op day ``day`` lands (duplicates kept: the merge appends
        every offered row whose key is not yet landed)."""
        cutoff = self.BASE + dt.timedelta(days=day + 1)
        dim = set(self.ba_dim)

        def clean(rows, kind_col):
            out = []
            for r in rows:
                ba = r.get("respondent") or r.get("fromba")
                date = dt.datetime.strptime(r["period"], "%Y-%m-%dT%H")
                if date < cutoff and ba in dim:
                    out.append((date, ba, r[kind_col], r["value"]))
            return out

        fuel = clean(self.fuel_rows(day), "fueltype")
        region = clean(self.region_rows(day), "type")
        complete: dict[tuple, int] = {}
        for date, ba, _t, v in region:
            complete[(date, ba)] = complete.get((date, ba), 0) + (v != "N/A")
        keys = {
            "eia930_cleaned_hourly_net_generation": [(d, b, k) for d, b, k, _ in fuel],
            "eia930_cleaned_hourly_demand_interchange_generation": [(d, b) for d, b, _, _ in region],
            "eia930_hourly_net_generation_by_energy_source": sorted({(d, k) for d, _, k, _ in fuel}),
            "eia930_hourly_respondents_producing_and_generating": sorted(
                k for k, n in complete.items() if n == len(RESPONSE_TYPES)
            ),
            "eia930_hourly_statistics_by_response_type": sorted({(d,) for d, _, _, _ in region}),
        }
        wday = self.BASE + dt.timedelta(days=self.weather_day(day))
        hours = [wday + dt.timedelta(hours=h) for h in range(24)]
        keys["openmeteo_cleaned_weather"] = [
            (h, lat, lon) for h in hours for _s, lat, lon in self.coords
        ]
        states = sorted({s for s, _la, _lo in self.coords})
        for t in ("openmeteo_weather_means_per_hour", "openmeteo_weather_deviations_per_hour"):
            keys[t] = [(h, s) for h in hours for s in states]
        target = self.eia7a_quarter(day)
        keys["eia7a_cleaned_quarterly_coal_imports_and_exports"] = [
            (r["period"], r["countryId"]) for r in self.eia7a_rows(day)
            if r["period"] == target and r["customsDistrictDescription"] != "Total"
            and _is_number(r["price"])
        ]
        keys["eia814_cleaned_monthly_crude_oil_imports"] = [
            (r["period"], r["originId"]) for r in self.eia814_rows(day)
        ]
        return keys


def _is_number(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True


# -------------------------------------------------------- corpus_build

EMB_DIM = 16


def corpus(seed: int, n_docs: int, n_batches: int, dup_share: float = 0.15) -> dict:
    """Documents, their embeddings and the micro-batch each arrives in.

    Arrival order is a seeded permutation cut into equal batches. From
    the second batch on, a ``dup_share`` of each batch's documents are
    near-copies (a few words changed, a nearby embedding) of distinct
    original documents of earlier batches, so the incremental dedup
    step finds real pairs. The seed decides which documents share a
    batch and which originals are copied; every batch carries the same
    number of documents and of near-copies, and every near-dup
    component is one landed original plus its copies."""
    rng = np.random.default_rng([seed, 20])
    order = rng.permutation(n_docs)
    batches = [b.tolist() for b in np.array_split(order, n_batches)]
    texts: dict[int, str] = {}
    vecs = np.zeros((n_docs, EMB_DIM))
    originals: list[int] = []
    for b, ids in enumerate(batches):
        n_dup = round(dup_share * len(ids)) if b else 0
        at = rng.choice(len(ids), n_dup, replace=False)
        copies = dict(zip(at.tolist(), rng.choice(originals, n_dup, replace=False).tolist()))
        for pos, doc_id in enumerate(ids):
            src = copies.get(pos)
            if src is None:
                texts[doc_id] = " ".join(rng.choice(WORDS, int(rng.integers(40, 120))))
                vecs[doc_id] = rng.normal(0.0, 1.0, EMB_DIM)
                continue
            words = texts[src].split()
            for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[i] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[doc_id] = " ".join(words)
            vecs[doc_id] = vecs[src] + rng.normal(0.0, 0.02, EMB_DIM)
        originals.extend(i for pos, i in enumerate(ids) if pos not in copies)
    vecs = np.round(vecs, 6)
    return {
        "texts": texts,
        "vecs": {i: vecs[i].tolist() for i in range(n_docs)},
        "batches": batches,
    }


def batch_file(n: int) -> str:
    return f"batch-{n:04d}.parquet"


def write_corpus_batches(src_dir: str, data: dict) -> int:
    """One parquet file per micro-batch, named in arrival order, so a
    file source with maxFilesPerTrigger=1 replays the arrival order.
    Returns the bytes written."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for b, ids in enumerate(data["batches"]):
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([data["texts"][i] for i in ids]),
            "ce": pa.array([data["vecs"][i] for i in ids], pa.list_(pa.float64())),
        })
        p = os.path.join(src_dir, batch_file(b))
        pq.write_table(table, p)
        total += os.path.getsize(p)
    return total
