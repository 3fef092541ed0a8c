"""Seeded input generators and independent reference outputs.

Every generator is a pure function of (seed, size): the same seed writes
the same files.  References never touch the engine under test: the Zillow
chains run in plain CPython (``pipelines.reference_chain``), flights in
pandas, and the corpus clean in DuckDB over ``clean_corpus_sql``.
"""

from __future__ import annotations

import csv
import random

import numpy as np

from pipelines import (ZILLOW_COLUMNS, ZILLOW_DIRTY, cleanCode,
                       extractDefunctYear, extractState, reference_chain)

# ------------------------------------------------------------------ Zillow
_KINDS = ["Condo", "Apartment", "House", "Townhouse", "Luxury condo",
          "condo", "Lot"]
_KIND_W = [30, 15, 25, 10, 5, 10, 5]
_OFFERS = ["for sale", "for rent", "recently sold", "foreclosed"]
_OFFER_W = [60, 20, 15, 5]
_CITIES = ["boston", "CAMBRIDGE", "Somerville", "bRookline", "newton",
           "QUINCY", "Medford", "salem", "Lowell", "worcester"]
_STREETS = ["Main", "Elm", "Beacon", "Washington", "Harvard", "Park",
            "Summer", "Pleasant", "Center", "Highland"]
_PROVIDERS = ["Coldwell Banker", "Redfin", "Keller Williams", "RE/MAX",
              "Century 21", "Compass"]


def zillow_rows(seed: int, n: int, dirty_share: float = 0.0) -> list:
    """Listing rows in the Z2 input layout.  With ``dirty_share`` > 0 that
    share of rows gets a malformed ``facts and features`` cell, split
    evenly between a studio (no bedroom count), a missing bathroom count
    and a missing floor area."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = rng.choices(_KINDS, _KIND_W)[0]
        offer = rng.choices(_OFFERS, _OFFER_W)[0]
        bd = rng.choice([1, 1, 2, 2, 3, 3, 4, 5, 6, 12])
        ba = rng.choice([1, 1.5, 2, 2.5, 3, 3.5, 4])
        sqft = rng.randint(350, 6000)
        facts = f"{bd} {'bd' if bd == 1 else 'bds'} , {ba} ba , " \
                f"{sqft:,} sqft"
        if offer == "for rent":
            price = f"${rng.randint(900, 9000):,}/mo"
        elif offer == "recently sold":
            price = "$0"
            facts += f" , Price/sqft: ${rng.randint(150, 900)} , more"
        else:
            price = f"${rng.randint(50, 30000) * 1000:,}"
        if dirty_share and rng.random() < dirty_share:
            flaw = rng.randrange(3)
            if flaw == 0:
                facts = f"Studio , {ba} ba , {sqft:,} sqft"
            elif flaw == 1:
                facts = f"{bd} bds , -- ba , {sqft:,} sqft"
            else:
                facts = f"{bd} bds , {ba} ba , -- sqft"
        city = rng.choice(_CITIES)
        rows.append((
            f"{kind} {offer}",
            f"{rng.randint(1, 999)} {rng.choice(_STREETS)} St",
            city, "MA", "%05d" % rng.randint(1001, 2799), price, facts,
            rng.choice(_PROVIDERS),
            f"https://www.zillow.example/homedetails/{seed}-{i}_zpid/"))
    return rows


def write_zillow_csv(path: str, rows: list) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(ZILLOW_COLUMNS)
        w.writerows(rows)


def zillow_reference(rows: list):
    """(output rows, exception_counts, rows resolved) from plain CPython.
    The CSV reader types postal_code as an integer; the chain's zipcode
    UDF formats it back, so the raw string gives the same result."""
    return reference_chain(rows, ZILLOW_COLUMNS, ZILLOW_DIRTY)


# ----------------------------------------------------------------- flights
_DEFUNCT = ["(1990-2005)", "(1985-)", "(2001-2010)", "(1970-1999)", "(-)",
            "(2003-)", "(1962-2001)"]


def flights_tables(seed: int, n: int, n_carriers: int = 40,
                   n_airports: int = 300):
    """(flights, carriers, airports) as pandas frames.  A tenth of the
    carrier codes in the fact table have no carrier row (dropped by the
    inner join) and a twentieth of destinations have no airport row
    (kept with a null State by the left join)."""
    import pandas as pd
    rs = np.random.default_rng(seed)
    codes = [f"C{i:02d}" for i in range(n_carriers)]
    known = codes[: n_carriers - n_carriers // 10]
    carriers = pd.DataFrame({
        "Code": known,
        "Description": [f"Carrier {c} Air {_DEFUNCT[i % len(_DEFUNCT)]}"
                        for i, c in enumerate(known)]})
    ports = [f"A{i:03d}" for i in range(n_airports)]
    listed = ports[: n_airports - n_airports // 20]
    states = ["MA", "NY", "CA", "TX", "WA", "IL", "FL", "CO"]
    airports = pd.DataFrame({
        "AirportCode": listed,
        "City": [f"City{i}, {states[i % len(states)]}"
                 for i in range(len(listed))]})
    cancel = rs.choice(np.array(["", "A", "B", "C", "D"], dtype=object),
                       size=n, p=[0.96, 0.01, 0.01, 0.01, 0.01])
    flights = pd.DataFrame({
        "Carrier": np.array(codes, dtype=object)[
            rs.integers(0, n_carriers, n)],
        "Dest": np.array(ports, dtype=object)[
            rs.integers(0, n_airports, n)],
        "ArrDelay": rs.integers(-40, 180, n).astype(np.int64),
        "Distance": rs.integers(80, 3000, n).astype(np.int64),
        "CancellationCode": cancel,
    })
    return flights, carriers, airports


def flights_reference(flights, carriers, airports) -> list:
    """Rows (Carrier, State, delay_sum, flights, cancelled) in pandas; the
    UDFs run on the dimension tables only, the fact-table cleanups are
    vectorised equivalents."""
    import pandas as pd
    car = carriers.copy()
    car["DefunctYear"] = [extractDefunctYear({"Description": d})
                          for d in car["Description"]]
    air = airports.copy()
    air["State"] = [extractState({"City": c}) for c in air["City"]]
    reason = flights["CancellationCode"].map(
        lambda c: cleanCode({"CancellationCode": c}))
    fact = pd.DataFrame({
        "Carrier": flights["Carrier"],
        "Dest": flights["Dest"],
        "Delay": flights["ArrDelay"].clip(lower=0),
        "Cancelled": reason.notna().astype(np.int64),
    })
    j = fact.merge(car, left_on="Carrier", right_on="Code", how="inner")
    j = j.merge(air, left_on="Dest", right_on="AirportCode", how="left")
    j["State"] = j["State"].astype(object).where(j["State"].notna(), None)
    g = (j.groupby(["Carrier", "State"], dropna=False)
          .agg(d=("Delay", "sum"), n=("Delay", "size"),
               c=("Cancelled", "sum")).reset_index())
    return sorted(((r.Carrier, None if pd.isna(r.State) else r.State,
                    int(r.d), int(r.n), int(r.c))
                   for r in g.itertuples(index=False)), key=flights_key)


def flights_key(row):
    """Sort key for flights result rows (State may be null)."""
    return row[0], row[1] or ""


# ------------------------------------------------------------------ corpus
_EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"]


def _vocab(rs, n: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rs.integers(4, 10, n)
    return sorted({"".join(rs.choice(letters, k)) for k in lens})


def corpus_docs(seed: int, n: int, exact_share: float = 0.10,
                near_share: float = 0.10, low_share: float = 0.08,
                foreign_share: float = 0.05):
    """(doc_ids, texts).  ``exact_share`` of documents re-use an earlier
    text with other casing and spacing, ``near_share`` copy an earlier
    text with a few words replaced, ``low_share`` are short and full of
    punctuation, ``foreign_share`` are German-looking."""
    rs = np.random.default_rng(seed)
    vocab = _vocab(rs, 6000)
    texts: list[str] = []
    originals: list[list[str]] = []
    for _ in range(n):
        u = rs.random()
        if originals and u < exact_share:
            src = " ".join(originals[int(rs.integers(len(originals)))])
            text = src.upper() if rs.random() < 0.5 else \
                "  " + src.replace(" ", "   ") + " "
        elif originals and u < exact_share + near_share:
            words = list(originals[int(rs.integers(len(originals)))])
            for _ in range(max(1, len(words) // 20)):
                words[int(rs.integers(len(words)))] = \
                    vocab[int(rs.integers(len(vocab)))]
            text = " ".join(words)
        elif u < exact_share + near_share + low_share:
            k = int(rs.integers(3, 12))
            text = " ".join(f"{vocab[int(rs.integers(len(vocab)))]}!!??"
                            for _ in range(k))
        else:
            foreign = u > 1.0 - foreign_share
            stop = _DE_STOP if foreign else _EN_STOP
            k = int(rs.integers(60, 140))
            words = [stop[int(rs.integers(len(stop)))]
                     if rs.random() < 0.3 else
                     vocab[int(rs.integers(len(vocab)))]
                     for _ in range(k)]
            words[-1] += "."
            originals.append(words)
            text = " ".join(words)
        texts.append(text)
    return list(range(1, n + 1)), texts


def corpus_reference(parquet_path: str) -> list:
    """Sorted (doc_id, quality) rows from DuckDB running the corpus-clean
    SQL twin over the same parquet file."""
    import duckdb
    from tuplex_spark.functions.pipeline import clean_corpus_sql
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{parquet_path}')")
        rows = con.execute(clean_corpus_sql()).fetchall()
    finally:
        con.close()
    return sorted((int(d), float(q)) for d, q in rows)
