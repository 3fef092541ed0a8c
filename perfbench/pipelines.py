"""The benchmark's pipelines and the UDFs they run.

The Zillow chain is written once, as data (``ZILLOW_DIRTY``), so the
engine run (``build_chain``) and the plain-CPython reference
(``reference_chain``) apply the identical steps.  The UDFs must live in a
real module: the engine recovers their source with ``inspect``.

The Zillow UDFs follow the reference's Z2 benchmark
(benchmarks/zillow/Z2/runtuplex.py); the flights UDFs follow
benchmarks/flights/runtuplex.py.
"""

from __future__ import annotations

import math
import urllib.parse
from collections import Counter

ZILLOW_COLUMNS = ["title", "address", "city", "state", "postal_code",
                  "price", "facts and features", "real estate provider",
                  "url"]
ZILLOW_OUTPUT = ["url", "zipcode", "address", "city", "state", "bedrooms",
                 "bathrooms", "sqft", "offer", "type", "price", "host"]


# ---------------------------------------------------------------- Zillow Z2
def extractBd(x):
    val = x["facts and features"]
    max_idx = val.find(" bd")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind(",")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 2
    r = s[split_idx:]
    return int(r)


def extractBa(x):
    val = x["facts and features"]
    max_idx = val.find(" ba")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind(",")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 2
    r = s[split_idx:]
    ba = math.ceil(2.0 * float(r)) / 2.0
    return ba


def extractSqft(x):
    val = x["facts and features"]
    max_idx = val.find(" sqft")
    if max_idx < 0:
        max_idx = len(val)
    s = val[:max_idx]
    split_idx = s.rfind("ba ,")
    if split_idx < 0:
        split_idx = 0
    else:
        split_idx += 5
    r = s[split_idx:]
    r = r.replace(",", "")
    return int(r)


def extractOffer(x):
    offer = x["title"].lower()
    if "sale" in offer:
        return "sale"
    if "rent" in offer:
        return "rent"
    if "sold" in offer:
        return "sold"
    if "foreclose" in offer.lower():
        return "foreclosed"
    return offer


def extractType(x):
    t = x["title"].lower()
    type = "unknown"
    if "condo" in t or "apartment" in t:
        type = "condo"
    if "house" in t:
        type = "house"
    return type


def extractPrice(x):
    price = x["price"]
    p = 0
    if x["offer"] == "sold":
        val = x["facts and features"]
        s = val[val.find("Price/sqft:") + len("Price/sqft:") + 1:]
        r = s[s.find("$") + 1:s.find(", ") - 1]
        price_per_sqft = int(r)
        p = price_per_sqft * x["sqft"]
    elif x["offer"] == "rent":
        max_idx = price.rfind("/")
        p = int(price[1:max_idx].replace(",", ""))
    else:
        p = int(price[1:].replace(",", ""))
    return p


def extractZip(x):
    return "%05d" % int(x["postal_code"])


def cleanCity(c):
    return c[0].upper() + c[1:].lower()


def keepBedrooms(x):
    return x["bedrooms"] < 10


def keepCondo(x):
    return x["type"] == "condo"


def keepSale(x):
    return 100000 < x["price"] < 2e7 and x["offer"] == "sale"


# dirty-input resolvers: a studio has no bedroom count, and a listing
# whose floor area is missing gets an estimate from its bedrooms
def resolveStudio(x):
    return 0


def resolveSqft(x):
    # fractions.Fraction keeps this resolver off the compiled path, so
    # resolved rows go through the Python resolve fallback
    import fractions
    return int(fractions.Fraction(x["bedrooms"] * 1300 + 700, 2))


def extractHost(x):
    # urllib.parse is outside what the UDF compiler translates: this
    # column runs on the Arrow/Python fallback
    return urllib.parse.urlparse(x["url"]).netloc


# A chain is a list of steps:
#   ("with", column, fn)  withColumn
#   ("map", column, fn)   mapColumn (fn receives the cell)
#   ("filter", fn)
#   ("resolve", exc_class, fn)   applies to the step before it
#   ("select", columns)
ZILLOW_DIRTY = [
    ("with", "bedrooms", extractBd),
    ("resolve", ValueError, resolveStudio),
    ("filter", keepBedrooms),
    ("with", "type", extractType),
    ("filter", keepCondo),
    ("with", "zipcode", extractZip),
    ("map", "city", cleanCity),
    ("with", "bathrooms", extractBa),     # "--" baths stay unresolved
    ("with", "sqft", extractSqft),
    ("resolve", ValueError, resolveSqft),
    ("with", "offer", extractOffer),
    ("with", "price", extractPrice),
    ("filter", keepSale),
    ("with", "host", extractHost),
    ("select", ZILLOW_OUTPUT),
]


def build_chain(ds, steps):
    """Apply ``steps`` to a DataSet through the public API."""
    for step in steps:
        kind = step[0]
        if kind == "with":
            ds = ds.withColumn(step[1], step[2])
        elif kind == "map":
            ds = ds.mapColumn(step[1], step[2])
        elif kind == "filter":
            ds = ds.filter(step[1])
        elif kind == "resolve":
            ds = ds.resolve(step[1], step[2])
        elif kind == "select":
            ds = ds.selectColumns(step[1])
        else:
            raise ValueError(f"unknown step {kind!r}")
    return ds


def reference_chain(rows, columns, steps):
    """Plain CPython over the same steps, with the engine's exception
    semantics: a row whose UDF raises is dropped and counted by exception
    class, unless the next step resolves that class; a resolver that
    raises counts its own exception.  Returns (rows, exception_counts,
    number of rows a resolver rescued)."""
    out = []
    counts: Counter = Counter()
    resolved = 0
    n = len(steps)
    for tup in rows:
        x = dict(zip(columns, tup))
        keep = True
        result = None
        i = 0
        while i < n:
            step = steps[i]
            kind = step[0]
            if kind == "select":
                result = tuple(x[c] for c in step[1])
                i += 1
                continue
            resolver = steps[i + 1] if i + 1 < n and \
                steps[i + 1][0] == "resolve" else None
            try:
                v = _apply_step(step, x)
            except Exception as e:  # noqa: BLE001 - mirrors row semantics
                if resolver is None or not isinstance(e, resolver[1]):
                    counts[type(e).__name__] += 1
                    keep = False
                    break
                try:
                    v = _apply_step(step[:-1] + (resolver[2],), x)
                except Exception as e2:  # noqa: BLE001
                    counts[type(e2).__name__] += 1
                    keep = False
                    break
                resolved += 1
            if kind == "filter":
                if not v:
                    keep = False
                    break
            else:
                x[step[1]] = v
            i += 2 if resolver is not None else 1
        if keep:
            out.append(result if result is not None
                       else tuple(x[c] for c in columns))
    return out, dict(counts), resolved


def _apply_step(step, x):
    kind, fn = step[0], step[-1]
    if kind == "map":
        return fn(x[step[1]])
    return fn(x)


# ------------------------------------------------------------------ flights
def cleanCode(t):
    if t["CancellationCode"] == "A":
        return "carrier"
    elif t["CancellationCode"] == "B":
        return "weather"
    elif t["CancellationCode"] == "C":
        return "national air system"
    elif t["CancellationCode"] == "D":
        return "security"
    else:
        return None


def extractDefunctYear(t):
    x = t["Description"]
    desc = x[x.rfind("-") + 1:x.rfind(")")].strip()
    return int(desc) if len(desc) > 0 else None


def extractState(t):
    c = t["City"]
    return c[c.rfind(",") + 2:]


def positiveDelay(x):
    return x["ArrDelay"] if x["ArrDelay"] > 0 else 0


def isCancelled(x):
    return 1 if x["CancellationReason"] is not None else 0


def combineStats(a, b):
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


def foldStats(a, x):
    return (a[0] + x["Delay"], a[1] + 1, a[2] + x["Cancelled"])


def flights_pipeline(ctx, flights, carriers, airports):
    """Compiled cleanup UDFs feeding an inner join, a left join and a
    keyed fold that the aggregate recognizer lowers to native sums."""
    car = (ctx.parquet(carriers)
           .withColumn("DefunctYear", extractDefunctYear))
    air = ctx.parquet(airports).withColumn("State", extractState)
    fact = (ctx.parquet(flights)
            .withColumn("CancellationReason", cleanCode)
            .withColumn("Delay", positiveDelay)
            .withColumn("Cancelled", isCancelled)
            .selectColumns(["Carrier", "Dest", "Delay", "Cancelled"]))
    joined = (fact.join(car, "Carrier", "Code")
              .leftJoin(air, "Dest", "AirportCode"))
    return joined.aggregateByKey(combineStats, foldStats, (0, 0, 0),
                                 ["Carrier", "State"])
