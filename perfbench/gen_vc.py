"""Seeded VC staging universe: the eight staging tables the warehouse
reads, as pyarrow tables that match ``schemas.STAGING`` column for
column.

The generator plants the shapes the warehouse builders must handle:

- Zipf-skewed foreign keys: a few companies hold many funding rounds,
  a few funds write most cheques, a few acquirers buy most targets;
- orphan foreign keys (ids that never appear in their dimension) and
  non-fund investors, which the inner joins must drop;
- dirty strings (mixed case, padding, symbol-only addresses and stock
  symbols, empty descriptions, unparseable varchar dates);
- mixed currencies, including one the FX table does not know.

Every row carries a ``day``: the day index its ``created_at`` falls on.
Days ``[0, history_days)`` are history; days ``[history_days,
history_days + new_days)`` carry the new entities and facts a daily
run picks up. A fact is never created before the entities it
references, and an investment shares its funding round's day, so a
daily merge over the new days converges to a full build over the same
staging.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(2012, 1, 1, tzinfo=dt.timezone.utc)
NEVER = 10**9  # ready day of a row the warehouse must drop
CURRENCIES = np.array(["USD", "USD", "USD", "EUR", "GBP", "JPY", "CAD", "SEK", "AUD", "NIS", "XBT"])
ROUND_TYPES = np.array(["angel", "series-a", "series-b", "series-c+", "venture", "private-equity"])
TERM_CODES = np.array(["cash", "stock", "cash_and_stock", "", " "])
TITLES = np.array(["CEO", "CTO", "Founder", "Board Member", "VP Engineering", "Advisor", ""])


@dataclass(frozen=True)
class VCScale:
    companies: int
    funds: int
    people: int
    rounds: int
    ipos: int
    acquisitions: int
    relationships: int
    history_days: int
    new_days: int
    new_share: float  # share of companies, funds and facts created on the new days


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float = 1.3) -> np.ndarray:
    """Zipf-distributed ranks folded into [0, n): rank 0 is hottest."""
    return (rng.zipf(a, size) - 1) % n


def _new_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly ``round(n * share)`` randomly placed True entries, so the
    volume of new rows does not vary with the seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, int(round(n * share)), replace=False)] = True
    return mask


def _entity_days(rng: np.random.Generator, n: int, scale: VCScale) -> np.ndarray:
    """Ascending creation days: ``new_share`` of the entities land on the
    new days (spread evenly over them), the rest uniformly over history."""
    h, k = scale.history_days, scale.new_days
    new = _new_mask(rng, n, scale.new_share)
    days = rng.integers(0, h, n)
    days[new] = h + np.arange(int(new.sum())) % k
    return np.sort(days)


def _days_after(rng: np.random.Generator, lo: np.ndarray, scale: VCScale) -> np.ndarray:
    """A day per row no earlier than ``lo``: ``new_share`` of the rows on
    the new days, the rest uniformly in [lo, history); rows whose ``lo``
    is already a new day stay on a new day."""
    h, k = scale.history_days, scale.new_days
    last = h + k - 1
    hist = lo + np.floor(rng.random(lo.size) * np.maximum(h - lo, 0)).astype(np.int64)
    new_day = np.maximum(lo, h + np.arange(lo.size) % k)
    pick_new = _new_mask(rng, lo.size, scale.new_share) | (lo >= h)
    return np.minimum(np.where(pick_new, new_day, hist), last)


def _micros(rng: np.random.Generator, days: np.ndarray) -> np.ndarray:
    """Epoch microseconds at a random second inside each given day (UTC)."""
    secs = days.astype(np.int64) * 86400 + rng.integers(0, 86400, days.size)
    return (secs + int(EPOCH.timestamp())) * 1_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.timestamp("us", tz="UTC"))


def _timestamps(rng: np.random.Generator, days: np.ndarray) -> pa.Array:
    return _ts(_micros(rng, days))


def _dates(days: np.ndarray) -> pa.Array:
    base = (EPOCH.date() - dt.date(1970, 1, 1)).days
    return pa.array((days + base).astype(np.int32), type=pa.date32())


def _decimal(values: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Integer cents (or micro-degrees) → decimal, exactly."""
    import decimal

    q = decimal.Decimal(1).scaleb(-scale)
    return pa.array(
        [decimal.Decimal(int(v)).scaleb(-scale).quantize(q) for v in values],
        type=pa.decimal128(precision, scale),
    )


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(lo, hi, n)
    flat = letters[rng.integers(0, 26, int(lengths.sum()))]
    out, pos = [], 0
    for ln in lengths:
        out.append("".join(flat[pos:pos + ln]))
        pos += ln
    return np.array(out, dtype=object)


def _dirty_case(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """Random upper/title case and whitespace padding."""
    out = values.copy()
    r = rng.random(values.size)
    for i in range(values.size):
        v = out[i]
        if r[i] < 0.2:
            v = v.upper()
        elif r[i] < 0.5:
            v = v.title()
        if r[i] > 0.85:
            v = f"  {v} "
        out[i] = v
    return out


def _maybe_null(rng: np.random.Generator, values: np.ndarray, p: float) -> list:
    mask = rng.random(values.size) < p
    return [None if m else v for v, m in zip(values.tolist(), mask)]


def generate(
    seed: int, scale: VCScale
) -> tuple[dict[str, pa.Table], dict[str, np.ndarray], dict[str, np.ndarray]]:
    """Build the staging universe for ``seed``.

    Returns ``(tables, days, ready)``: the eight staging tables; the
    creation day of every row per staging table (people and
    relationships have no typed created_at and are full-load tables,
    so their days are all 0); and per warehouse table except dim_date,
    one entry per row the warehouse must hold, the first day whose
    staging makes that row appear (``NEVER`` for planted orphans). A
    build over the staging of days ``< d`` holds ``sum(ready < d)``
    rows.
    """
    rng = np.random.default_rng(seed)
    s = scale

    # --- companies -------------------------------------------------
    nc = s.companies
    c_days = _entity_days(rng, nc, s)
    c_ids = np.array([f"c:{i}" for i in range(1, nc + 1)], dtype=object)
    cities = _words(rng, 200)
    regions = _words(rng, 40)
    streets = _words(rng, 500)
    addr_kind = rng.random(nc)
    addr1 = []
    for i in range(nc):
        if addr_kind[i] < 0.05:
            addr1.append("###")
        elif addr_kind[i] < 0.08:
            addr1.append("a")
        elif addr_kind[i] < 0.12:
            addr1.append(None)
        else:
            num = int(rng.integers(1, 9999))
            prefix = "#" if addr_kind[i] > 0.95 else ""
            addr1.append(f"{prefix}{num} {streets[i % streets.size].title()} St")
    addr2 = _maybe_null(rng, np.where(rng.random(nc) < 0.5, "", "Suite 100"), 0.6)
    country = np.array(["usa", " USA", "GBR", "deu", "", "fra"], dtype=object)[rng.integers(0, 6, nc)]
    company = pa.table({
        "office_id": pa.array(np.arange(1, nc + 1, dtype=np.int32)),
        "object_id": pa.array(c_ids, type=pa.string()),
        "description": pa.array(_maybe_null(rng, _words(rng, nc, 4, 12), 0.3), type=pa.string()),
        "region": pa.array(_dirty_case(rng, regions[rng.integers(0, regions.size, nc)]), type=pa.string()),
        "address1": pa.array(addr1, type=pa.string()),
        "address2": pa.array(addr2, type=pa.string()),
        "city": pa.array(_dirty_case(rng, cities[rng.integers(0, cities.size, nc)]), type=pa.string()),
        "zip_code": pa.array([f"{z:05d}" for z in rng.integers(0, 99999, nc)], type=pa.string()),
        "state_code": pa.array(np.array(["CA", "NY", "ma", "", "TX"], dtype=object)[rng.integers(0, 5, nc)], type=pa.string()),
        "country_code": pa.array(country, type=pa.string()),
        "latitude": _decimal(rng.integers(-89_000_000, 89_000_000, nc), 9, 6),
        "longitude": _decimal(rng.integers(-179_000_000, 179_000_000, nc), 9, 6),
        "created_at": _timestamps(rng, c_days),
        "updated_at": _timestamps(rng, c_days),
    })

    # --- funds: the first 20 exist from day 0 so every round has an
    # eligible investor; hot (low-rank) funds are the oldest ----------
    nf = s.funds
    f_days = _entity_days(rng, nf, s)
    f_days[:20] = 0
    f_days = np.sort(f_days)
    f_ids = np.array([f"f:{i}" for i in range(1, nf + 1)], dtype=object)
    fund_names = _dirty_case(rng, np.array([f"{w} capital" for w in _words(rng, nf)], dtype=object))
    desc_pool = np.array(["", "  ", "techcrunch", "Press Release", "SEC filing"], dtype=object)
    funds = pa.table({
        "fund_id": pa.array([str(i) for i in range(1, nf + 1)], type=pa.string()),
        "object_id": pa.array(f_ids, type=pa.string()),
        "name": pa.array(fund_names, type=pa.string()),
        "funded_at": _dates(f_days),
        "raised_amount": _decimal(rng.integers(1_000_000, 50_000_000_000, nf), 15, 2),
        "raised_currency_code": pa.array(CURRENCIES[rng.integers(0, CURRENCIES.size, nf)], type=pa.string()),
        "source_url": pa.array(_maybe_null(rng, np.array([f"http://x.example/{i}" for i in range(nf)], dtype=object), 0.2), type=pa.string()),
        "source_description": pa.array(desc_pool[rng.integers(0, desc_pool.size, nf)], type=pa.string()),
        "created_at": _timestamps(rng, f_days),
        "updated_at": _timestamps(rng, f_days),
    })

    # --- funding rounds: Zipf over a shuffled order of the history
    # companies, new companies last, so the hot companies (and the
    # volume of a new day) do not depend on which companies are new --
    nr = s.rounds
    is_new = c_days >= s.history_days
    hot = np.concatenate([rng.permutation(np.flatnonzero(~is_new)), rng.permutation(np.flatnonzero(is_new))])
    r_company = hot[_zipf_index(rng, nc, nr)]
    r_days = _days_after(rng, c_days[r_company], s)
    order = np.argsort(r_days, kind="stable")
    r_company, r_days = r_company[order], r_days[order]
    r_micros = _micros(rng, r_days)
    amounts = rng.integers(10_000_00, 500_000_000_00, nr)
    funding_rounds = pa.table({
        "funding_round_id": pa.array(np.arange(1, nr + 1, dtype=np.int32)),
        "object_id": pa.array(c_ids[r_company], type=pa.string()),
        "funded_at": _dates(r_days),
        "funding_round_type": pa.array(ROUND_TYPES[rng.integers(0, ROUND_TYPES.size, nr)], type=pa.string()),
        "funding_round_code": pa.array(np.array(["a", "b", "c", "seed", ""], dtype=object)[rng.integers(0, 5, nr)], type=pa.string()),
        "raised_amount_usd": _decimal(amounts, 15, 2),
        "raised_amount": _decimal(amounts, 15, 2),
        "raised_currency_code": pa.array(CURRENCIES[rng.integers(0, CURRENCIES.size, nr)], type=pa.string()),
        "pre_money_valuation_usd": _decimal(amounts * 3, 15, 2),
        "pre_money_valuation": _decimal(amounts * 3, 15, 2),
        "pre_money_currency_code": pa.array(np.full(nr, "USD", dtype=object), type=pa.string()),
        "post_money_valuation_usd": _decimal(amounts * 4, 15, 2),
        "post_money_valuation": _decimal(amounts * 4, 15, 2),
        "post_money_currency_code": pa.array(np.full(nr, "USD", dtype=object), type=pa.string()),
        "participants": pa.array([str(p) for p in rng.integers(0, 12, nr)], type=pa.string()),
        "is_first_round": pa.array(rng.random(nr) < 0.3),
        "is_last_round": pa.array(rng.random(nr) < 0.3),
        "created_by": pa.array(np.array(["admin", "bot", "editor"], dtype=object)[rng.integers(0, 3, nr)], type=pa.string()),
        "created_at": _ts(r_micros),
        "updated_at": _ts(r_micros),
    })

    # --- investments: 1..6 per round, same day as the round ----------
    per_round = rng.integers(1, 7, nr)
    i_round = np.repeat(np.arange(nr), per_round)
    ni = i_round.size
    i_days = r_days[i_round]
    eligible = np.searchsorted(f_days, i_days, side="right")
    i_fund = _zipf_index(rng, nf, ni) % eligible
    funded = c_ids[r_company[i_round]].copy()
    investor = f_ids[i_fund].copy()
    kind = rng.random(ni)
    orphan_company = kind < 0.01
    non_fund = (kind >= 0.01) & (kind < 0.04)
    funded[orphan_company] = [f"c:orphan-{i}" for i in np.flatnonzero(orphan_company)]
    investor[non_fund] = [f"p:{1 + i % max(s.people, 1)}" for i in np.flatnonzero(non_fund)]
    investments = pa.table({
        "investment_id": pa.array(np.arange(1, ni + 1, dtype=np.int32)),
        "funding_round_id": pa.array((i_round + 1).astype(np.int32)),
        "funded_object_id": pa.array(funded, type=pa.string()),
        "investor_object_id": pa.array(investor, type=pa.string()),
        "created_at": _ts(r_micros[i_round]),
        "updated_at": _ts(r_micros[i_round]),
    })

    # --- ipos: distinct companies, 2% orphans -------------------------
    nipo = min(s.ipos, nc)
    ipo_company = rng.choice(nc, nipo, replace=False)
    ipo_days = _days_after(rng, c_days[ipo_company], s)
    ipo_obj = c_ids[ipo_company].copy()
    ipo_orphan = rng.random(nipo) < 0.02
    ipo_obj[ipo_orphan] = [f"c:orphan-ipo-{i}" for i in np.flatnonzero(ipo_orphan)]
    symbols = _dirty_case(rng, _words(rng, nipo, 2, 5))
    sym_junk = rng.random(nipo)
    symbols = np.where(sym_junk < 0.05, "---", np.where(sym_junk < 0.08, "123", symbols))
    ipos = pa.table({
        "ipo_id": pa.array([str(i) for i in range(1, nipo + 1)], type=pa.string()),
        "object_id": pa.array(ipo_obj, type=pa.string()),
        "valuation_amount": _decimal(rng.integers(1_000_000_00, 900_000_000_000, nipo), 15, 2),
        "valuation_currency_code": pa.array(CURRENCIES[rng.integers(0, CURRENCIES.size, nipo)], type=pa.string()),
        "raised_amount": _decimal(rng.integers(1_000_00, 90_000_000_000, nipo), 15, 2),
        "raised_currency_code": pa.array(CURRENCIES[rng.integers(0, CURRENCIES.size, nipo)], type=pa.string()),
        "public_at": _timestamps(rng, ipo_days),
        "stock_symbol": pa.array(symbols.astype(object), type=pa.string()),
        "source_url": pa.array(np.full(nipo, "http://ipo.example", dtype=object), type=pa.string()),
        "source_description": pa.array(desc_pool[rng.integers(0, desc_pool.size, nipo)], type=pa.string()),
        "created_at": _timestamps(rng, ipo_days),
        "updated_at": _timestamps(rng, ipo_days),
    })

    # --- acquisitions: serial acquirers, 2% orphans per side ----------
    na = s.acquisitions
    acq_by = hot[_zipf_index(rng, nc, na, a=1.5)]
    acq_of = rng.integers(0, nc, na)
    a_days = _days_after(rng, np.maximum(c_days[acq_by], c_days[acq_of]), s)
    acq_by_ids, acq_of_ids = c_ids[acq_by].copy(), c_ids[acq_of].copy()
    a_kind = rng.random(na)
    acq_by_ids[a_kind < 0.02] = "c:orphan-acquirer"
    acq_of_ids[(a_kind >= 0.02) & (a_kind < 0.04)] = "c:orphan-target"
    acquisition = pa.table({
        "acquisition_id": pa.array(np.arange(1, na + 1, dtype=np.int32)),
        "acquiring_object_id": pa.array(acq_by_ids, type=pa.string()),
        "acquired_object_id": pa.array(acq_of_ids, type=pa.string()),
        "term_code": pa.array(TERM_CODES[rng.integers(0, TERM_CODES.size, na)], type=pa.string()),
        "price_amount": _decimal(rng.integers(0, 90_000_000_000, na), 15, 2),
        "price_currency_code": pa.array(CURRENCIES[rng.integers(0, CURRENCIES.size, na)], type=pa.string()),
        "acquired_at": _timestamps(rng, a_days),
        "source_url": pa.array(np.full(na, "http://acq.example", dtype=object), type=pa.string()),
        "source_description": pa.array(desc_pool[rng.integers(0, desc_pool.size, na)], type=pa.string()),
        "created_at": _timestamps(rng, a_days),
        "updated_at": _timestamps(rng, a_days),
    })

    # --- people and relationships (full-load tables) -----------------
    npp = s.people
    first = _words(rng, npp, 3, 8)
    last = _words(rng, npp, 4, 10)
    people = pa.table({
        "people_id": pa.array([str(i) for i in range(1, npp + 1)], type=pa.string()),
        "object_id": pa.array([f"p:{i}" for i in range(1, npp + 1)], type=pa.string()),
        "first_name": pa.array(_maybe_null(rng, _dirty_case(rng, first), 0.05), type=pa.string()),
        "last_name": pa.array(_maybe_null(rng, _dirty_case(rng, last), 0.05), type=pa.string()),
        "birthplace": pa.array(_maybe_null(rng, cities[rng.integers(0, cities.size, npp)], 0.5), type=pa.string()),
        "affiliation_name": pa.array(_maybe_null(rng, _words(rng, npp), 0.3), type=pa.string()),
    })
    nrel = s.relationships
    rel_person = _zipf_index(rng, npp, nrel, a=1.6)
    rel_company = hot[_zipf_index(rng, nc, nrel, a=1.4)]
    rel_obj = c_ids[rel_company].copy()
    rel_kind = rng.random(nrel)
    rel_obj[rel_kind < 0.03] = "c:orphan-employer"
    rel_obj[(rel_kind >= 0.03) & (rel_kind < 0.06)] = f_ids[0]  # funds are not companies
    start_days = rng.integers(-3000, 0, nrel)
    date_fmt = rng.random(nrel)
    starts = []
    for d, f in zip(start_days, date_fmt):
        day = EPOCH.date() + dt.timedelta(days=int(d))
        if f < 0.6:
            starts.append(day.isoformat())
        elif f < 0.8:
            starts.append(f"{day.isoformat()} 00:00:00")
        elif f < 0.9:
            starts.append("n/a")
        else:
            starts.append(None)
    ends = [None if r < 0.7 else (EPOCH.date() + dt.timedelta(days=int(r * 1000))).isoformat() for r in rng.random(nrel)]
    relationships = pa.table({
        "relationship_id": pa.array([str(i) for i in range(1, nrel + 1)], type=pa.string()),
        "person_object_id": pa.array([f"p:{1 + p}" for p in rel_person], type=pa.string()),
        "relationship_object_id": pa.array(rel_obj, type=pa.string()),
        "start_at": pa.array(starts, type=pa.string()),
        "end_at": pa.array(ends, type=pa.string()),
        "is_past": pa.array(np.array(["true", "false", ""], dtype=object)[rng.integers(0, 3, nrel)], type=pa.string()),
        "sequence": pa.array([str(x) for x in rng.integers(1, 9, nrel)], type=pa.string()),
        "title": pa.array(TITLES[rng.integers(0, TITLES.size, nrel)], type=pa.string()),
        "created_at": pa.array(np.full(nrel, "2011-06-01 10:00:00", dtype=object), type=pa.string()),
        "updated_at": pa.array(np.full(nrel, "2011-06-01 10:00:00", dtype=object), type=pa.string()),
    })

    tables = {
        "company": company, "funds": funds, "funding_rounds": funding_rounds,
        "investments": investments, "ipos": ipos, "acquisition": acquisition,
        "people": people, "relationships": relationships,
    }
    days = {
        "company": c_days, "funds": f_days, "funding_rounds": r_days,
        "investments": i_days, "ipos": ipo_days, "acquisition": a_days,
        "people": np.zeros(npp, dtype=np.int64),
        "relationships": np.zeros(nrel, dtype=np.int64),
    }
    ready = {
        "dim_company": c_days,
        "dim_funds": f_days,
        "dim_people": np.zeros(npp, dtype=np.int64),
        "fct_investments": np.where(orphan_company | non_fund, NEVER, i_days),
        "fct_ipos": np.where(ipo_orphan, NEVER, ipo_days),
        "fct_acquisition": np.where(a_kind < 0.04, NEVER, a_days),
        "bridge_company_people": np.where(rel_kind < 0.06, NEVER, c_days[rel_company]),
    }
    return tables, days, ready
