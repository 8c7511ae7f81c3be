"""Seeded, vectorized generator of the raw insurance CSVs.

Writes ``contracts.csv``, ``vehicles.csv``, ``claims.csv``,
``telematics.csv`` and ``device_mapping.csv`` in the shape the
pipeline's ingest expects (FIXTURES.md section B), with every dirty-data
pathology the cleaners handle:

- mixed date formats (``yyyy-MM-dd`` / ``MM/dd/yyyy`` in contracts,
  ``dd-MM-yyyy`` / ISO / stray ``MM/dd/yyyy`` in claims);
- premiums with suffix euro, prefix euro, prefix dollar, and negative
  values;
- fully empty rows in contracts;
- packed ``lat,lon,alt`` GPS triples in telematics ``value``;
- duplicate timestamps and out-of-order arrival in telematics.

Every pathology is placed by an exact count (a seeded permutation picks
which rows), so two seeds give different bytes with identical row counts
and identical pathology shares. The same seed gives identical bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

PRODUCTS = ["Auto", "Health", "Home", "Life"]
STATUSES = ["Active", "Cancelled", "Expired", "Renewed", "Suspended"]
RISK_ZONES = ["High", "Medium", "Low"]
CHANNELS = ["Agency", "Broker", "Phone", "Web"]
CSPS = ["Employee", "Manager", "Retired", "Self_employed", "Student", "Unemployed", "Worker"]
GENDERS = ["F", "M", "Female", "Male"]
FIRST = ["Pascal", "Marie", "Luc", "Anne", "Jean", "Claire", "Hugo", "Emma", "Louis", "Chloe"]
LAST = ["Dubois", "Martin", "Bernard", "Petit", "Robert", "Richard", "Durand", "Moreau"]
CITIES = ["Paris_750", "Lyon_690", "Marseille_130", "Lille_590", "Nantes_440"]
BRANDS = ["BMW", "Mercedes", "Peugeot", "Renault", "Volkswagen"]
FUELS = ["Diesel", "Electric", "Gasoline", "Hybrid"]
USAGES = ["Mixed", "Personal", "Professional"]
COLORS = ["Black", "Blue", "Gray", "Red", "White"]
CLAIM_TYPES = ["Collision", "Fire", "Glass_damage", "Storm", "Theft", "Vandalism", "Water_damage"]
CLAIM_STATUSES = ["Closed", "Expert_review", "In_progress", "Open", "Rejected"]
LIABILITIES = ["Force_majeure", "Insured", "Shared", "Third_party"]
SENSORS = ["EXTERNAL BATTERY", "IGNITION_STATUS", "ENGINE RPM", "Vehicle speed"]

# Exact pathology shares (FIXTURES.md B1-B4 observed ratios).
SHARES = {
    "contracts.us_start_date": 0.30,
    # premiums: the 40% not listed below carry a suffix euro sign
    "contracts.premium_prefix_euro": 0.25,
    "contracts.premium_dollar": 0.20,
    "contracts.premium_negative": 0.15,
    "contracts.null_age": 0.08,
    "contracts.null_csp": 0.12,
    "contracts.null_gender": 0.21,
    "contracts.empty_rows": 0.002,
    "vehicles.null_numeric": 0.05,
    "vehicles.null_previous_claims": 0.10,
    "claims.dash_date": 0.50,
    "claims.slash_date": 0.15,
    "claims.null_indemnified": 0.42,
    "telematics.position": 0.55,
    "telematics.duplicate_ts": 0.10,
    "telematics.gps_jump": 0.03,
    "telematics.gps_fast": 0.20,
}

BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated raw set."""

    contracts: int
    vehicles: int
    claims: int
    devices: int
    events_per_device: int

    @property
    def telematics(self) -> int:
        return self.devices * self.events_per_device

    @property
    def empty_rows(self) -> int:
        return max(2, round(self.contracts * SHARES["contracts.empty_rows"]))


def _count(n: int, key: str) -> int:
    return round(n * SHARES[key])


def _mask(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """Boolean mask with exactly ``k`` True entries at seeded positions."""
    m = np.zeros(n, dtype=bool)
    m[rng.permutation(n)[:k]] = True
    return m


def _split(rng: np.random.Generator, n: int, counts: list[int]) -> np.ndarray:
    """Label each of ``n`` rows with a class 1..len(counts) (exact
    counts) or 0 for the remainder, at seeded positions."""
    labels = np.zeros(n, dtype=np.int8)
    perm = rng.permutation(n)
    at = 0
    for cls, k in enumerate(counts, start=1):
        labels[perm[at : at + k]] = cls
        at += k
    return labels


def _pick(rng: np.random.Generator, domain: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.integers(0, len(domain), n)], pa.string())


def _ids(prefix: str, width: int, ids: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(ids, pa.int64()).cast(pa.string()), width, "0")
    return pc.binary_join_element_wise(pa.scalar(prefix), digits, "")


def _money(values: np.ndarray) -> pa.Array:
    """Two-decimal text of a float array (``1974.98``)."""
    cents = np.round(values * 100).astype(np.int64)
    whole = pa.array(cents // 100, pa.int64()).cast(pa.string())
    frac = pc.utf8_lpad(pa.array(cents % 100, pa.int64()).cast(pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _fixed(values: np.ndarray, scale: int) -> pa.Array:
    """``scale``-decimal text of a (possibly negative) float array."""
    units = np.round(np.abs(values) * 10**scale).astype(np.int64)
    whole = pa.array(units // 10**scale, pa.int64()).cast(pa.string())
    frac = pc.utf8_lpad(pa.array(units % 10**scale, pa.int64()).cast(pa.string()), scale, "0")
    text = pc.binary_join_element_wise(whole, frac, ".")
    return pc.if_else(pa.array(values < 0), pc.binary_join_element_wise("-", text, ""), text)


def _float_text(values: np.ndarray) -> pa.Array:
    """Float-formatted integers (``2015.0``), the raw files' style."""
    return pc.binary_join_element_wise(
        pa.array(values.astype(np.int64), pa.int64()).cast(pa.string()), pa.scalar("0"), "."
    )


def _dates(days: np.ndarray, fmt: str) -> pa.Array:
    ts = pa.array(days.astype("datetime64[D]").astype("datetime64[s]"), pa.timestamp("s"))
    return pc.strftime(ts, format=fmt)


def _null_where(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(mask), pa.nulls(len(arr), arr.type), arr)


def _write(table: pa.Table, path: str) -> None:
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(include_header=True, quoting_style="needed")
    )


def contracts(rng: np.random.Generator, s: Scale) -> tuple[pa.Table, np.ndarray]:
    n = s.contracts
    n_clients = max(1, n // 2)
    client = rng.integers(0, n_clients, n)
    # 1-, 2- and 3-token names pin first/last-token semantics (20/60/20).
    tokens = _split(rng, n, [round(n * 0.2), round(n * 0.2)])
    first = np.asarray(FIRST, dtype=object)[rng.integers(0, len(FIRST), n)]
    middle = np.asarray(FIRST, dtype=object)[rng.integers(0, len(FIRST), n)]
    last = np.asarray(LAST, dtype=object)[rng.integers(0, len(LAST), n)]
    name = np.where(
        tokens == 1, first, np.where(tokens == 2, first + " " + middle + " " + last, first + " " + last)
    )
    start_day = np.datetime64("2020-01-01").astype(np.int64) + rng.integers(0, 4 * 365, n)
    us_start = _mask(rng, n, _count(n, "contracts.us_start_date"))
    start = pc.if_else(
        pa.array(us_start), _dates(start_day, "%m/%d/%Y"), _dates(start_day, "%Y-%m-%d")
    )
    end = _dates(start_day + 365, "%Y-%m-%d")
    style = _split(
        rng,
        n,
        [
            _count(n, "contracts.premium_prefix_euro"),
            _count(n, "contracts.premium_dollar"),
            _count(n, "contracts.premium_negative"),
        ],
    )
    amount = _money(rng.uniform(200, 3000, n))
    euro = pa.scalar("€")
    premium = pc.case_when(
        pc.make_struct(pa.array(style == 1), pa.array(style == 2), pa.array(style == 3)),
        pc.binary_join_element_wise(euro, amount, ""),
        pc.binary_join_element_wise(pa.scalar("$"), amount, ""),
        pc.binary_join_element_wise(pa.scalar("-"), amount, euro, ""),
        pc.binary_join_element_wise(amount, euro, ""),
    )
    city = pc.binary_join_element_wise(
        _pick(rng, CITIES, n), pc.utf8_lpad(pa.array(rng.integers(1, 21, n)).cast(pa.string()), 2, "0"), ""
    )
    age = _null_where(_float_text(rng.integers(18, 80, n)), _mask(rng, n, _count(n, "contracts.null_age")))
    csp = _null_where(_pick(rng, CSPS, n), _mask(rng, n, _count(n, "contracts.null_csp")))
    gender = _null_where(_pick(rng, GENDERS, n), _mask(rng, n, _count(n, "contracts.null_gender")))
    table = pa.table(
        {
            "contract_id": _ids("CTR_", 6, np.arange(n)),
            "client_id": _ids("CLI_", 6, client),
            "client_name": pa.array(name, pa.string()),
            "product": _pick(rng, PRODUCTS, n),
            "start_date": start,
            "end_date": end,
            "annual_premium": premium,
            "status": _pick(rng, STATUSES, n),
            "city_postal": city,
            "risk_zone": _pick(rng, RISK_ZONES, n),
            "client_age": age,
            "channel": _pick(rng, CHANNELS, n),
            "csp": csp,
            "gender": gender,
        }
    )
    # Fully empty rows (dropped at ingest) at seeded positions.
    e = s.empty_rows
    order = rng.permutation(n + e)
    blank = pa.table({c: pa.nulls(e, pa.string()) for c in table.column_names})
    return pa.concat_tables([table, blank]).take(pa.array(order)), client


def vehicles(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.vehicles
    contract = rng.choice(s.contracts, n, replace=False)
    k = _count(n, "vehicles.null_numeric")
    year = _null_where(_float_text(rng.integers(2005, 2025, n)), _mask(rng, n, k))
    power = _null_where(
        pc.binary_join_element_wise(pa.array(rng.integers(60, 300, n)).cast(pa.string()), pa.scalar("HP"), " "),
        _mask(rng, n, k),
    )
    value = _null_where(
        pc.binary_join_element_wise(_money(rng.uniform(3000, 60000, n)), pa.scalar("€"), ""),
        _mask(rng, n, k),
    )
    prev = _null_where(
        _float_text(rng.integers(0, 5, n)), _mask(rng, n, _count(n, "vehicles.null_previous_claims"))
    )
    return pa.table(
        {
            "contract_id": _ids("CTR_", 6, contract),
            "brand": _pick(rng, BRANDS, n),
            "model": pc.binary_join_element_wise(
                pa.scalar("Model"), pa.array(rng.integers(0, 9, n)).cast(pa.string()), ""
            ),
            "year": year,
            "power": power,
            "fuel_type": _pick(rng, FUELS, n),
            "current_value": value,
            "color": _pick(rng, COLORS, n),
            "usage": _pick(rng, USAGES, n),
            "previous_claims": prev,
        }
    )


def claims(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.claims
    day = np.datetime64("2023-01-01").astype(np.int64) + rng.integers(0, 2 * 365, n)
    fmt = _split(rng, n, [_count(n, "claims.dash_date"), _count(n, "claims.slash_date")])
    occurrence = pc.case_when(
        pc.make_struct(pa.array(fmt == 1), pa.array(fmt == 2)),
        _dates(day, "%d-%m-%Y"),
        _dates(day, "%m/%d/%Y"),
        _dates(day, "%Y-%m-%d"),
    )
    euro = pa.scalar("€")
    indemnified = _null_where(
        pc.binary_join_element_wise(_money(rng.uniform(50, 15000, n)), euro, ""),
        _mask(rng, n, _count(n, "claims.null_indemnified")),
    )
    return pa.table(
        {
            "claim_id": _ids("CLM_", 7, np.arange(n)),
            "contract_id": _ids("CTR_", 6, rng.integers(0, s.contracts, n)),
            "occurrence_date": occurrence,
            "declaration_date": _dates(day + rng.integers(0, 10, n), "%Y-%m-%d"),
            "claim_type": _pick(rng, CLAIM_TYPES, n),
            "damage_amount": pc.binary_join_element_wise(_money(rng.uniform(100, 20000, n)), euro, ""),
            "indemnified_amount": indemnified,
            "status": _pick(rng, CLAIM_STATUSES, n),
            "expert_id": _ids("EXP_", 3, rng.integers(0, 40, n)),
            "liability": _pick(rng, LIABILITIES, n),
        }
    )


def device_ids(n: int) -> np.ndarray:
    """Opaque 32-character device ids (FIXTURES.md B4)."""
    return np.array([f"{'abcdef'[i % 6] * 8}{i:024d}" for i in range(n)], dtype=object)


def telematics(rng: np.random.Generator, s: Scale) -> pa.Table:
    d, m = s.devices, s.events_per_device
    n = d * m
    # Inter-event gaps of 2-5 s; an exact share of zero gaps gives
    # duplicate timestamps (dropped by the risk scorer's time_diff > 0).
    gaps = rng.choice(np.array([2000, 3000, 4000, 5000]), (d, m))
    repeat = _mask(rng, d * (m - 1), _count(n, "telematics.duplicate_ts")).reshape(d, m - 1)
    gaps[:, 1:][repeat] = 0
    t = BASE_MS + np.repeat(np.arange(d) * 1000, m) + np.cumsum(gaps, axis=1).ravel()
    is_pos = _mask(rng, n, _count(n, "telematics.position"))
    # Latitude steps: jumps (impossible speeds, filtered), fast steps
    # (speeding band) and slow drift, so every risk band is populated.
    step = _split(rng, n, [_count(n, "telematics.gps_jump"), _count(n, "telematics.gps_fast")])
    dlat = np.where(
        step == 1, 0.5 * rng.choice(np.array([-1.0, 1.0]), n), np.where(step == 2, 0.002 * rng.uniform(0.8, 1.2, n), 0.00005 * rng.uniform(0, 1, n))
    )
    dlat = np.where(is_pos, dlat, 0.0)
    dlon = np.where(is_pos, 0.00003 * rng.uniform(0, 1, n), 0.0)
    lat = (48.85 + np.repeat(np.arange(d) * 0.01, m)) + np.cumsum(dlat.reshape(d, m), axis=1).ravel()
    lon = (2.35 + np.repeat(np.arange(d) * 0.01, m)) + np.cumsum(dlon.reshape(d, m), axis=1).ravel()
    gps = pc.binary_join_element_wise(
        _fixed(lat, 6), _fixed(lon, 6), _fixed(rng.uniform(-20, 100, n), 1), ","
    )
    value = pc.if_else(pa.array(is_pos), gps, _fixed(rng.uniform(0, 120, n), 1))
    variable = pc.if_else(pa.array(is_pos), pa.scalar("POSITION"), _pick(rng, SENSORS, n))
    stamp = pc.strftime(pa.array(t, pa.int64()).cast(pa.timestamp("ms")).cast(pa.timestamp("us")),
                        format="%Y-%m-%d %H:%M:%S")
    table = pa.table(
        {
            "deviceId": pa.array(np.repeat(device_ids(d), m), pa.string()),
            "timeMili": _float_text(t),
            "timestamp": stamp,
            "value": value,
            "variable": variable,
            "alarmClass": pa.array(rng.integers(0, 6, n)),
        }
    )
    # Out-of-order arrival: rows land in a seeded random order.
    return table.take(pa.array(rng.permutation(n)))


def device_mapping(rng: np.random.Generator, s: Scale, clients: np.ndarray) -> pa.Table:
    distinct = np.unique(clients)
    chosen = rng.choice(distinct, s.devices, replace=len(distinct) < s.devices)
    return pa.table(
        {
            "deviceId": pa.array(device_ids(s.devices), pa.string()),
            "customer_id": _ids("CLI_", 6, chosen),
        }
    )


def generate(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write the five raw CSVs into ``out_dir``; return data rows per
    file (empty rows included, as written)."""
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.SeedSequence(seed)
    streams = [np.random.default_rng(c) for c in root.spawn(5)]
    ctr, clients = contracts(streams[0], scale)
    tables = {
        "contracts.csv": ctr,
        "vehicles.csv": vehicles(streams[1], scale),
        "claims.csv": claims(streams[2], scale),
        "telematics.csv": telematics(streams[3], scale),
        "device_mapping.csv": device_mapping(streams[4], scale, clients),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, name))
    return {name: t.num_rows for name, t in tables.items()}
