"""Seeded input generation. The same seed gives byte-identical inputs.

The program receives only these files: a TPC-H-shaped `lineitem` (the
columns the bronze synthesis reads) and a `documents` corpus. Sizes are
fixed per workload, so seeds change values, never the amount of work.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# medallion_batch and gold_serving: the lifecycle's date range
# (the bronze synthesis cuts its two silver increments at 1995-06-30)
LINEITEM_ROWS = 60_000
LINEITEM_START = dt.date(1995, 1, 2)
LINEITEM_END = dt.date(2001, 11, 4)

# gold_serving: a published gold star over the lifecycle's date range
GOLD_FACT_ROWS = 100_000
GOLD_SITES = 600
PARAMETERS = [("88101", "PM2.5 - Local Conditions", "Micrograms/cubic meter (LC)", "Particulate Matter"),
              ("44201", "Ozone", "Parts per million", "Gas"),
              ("42602", "Nitrogen dioxide (NO2)", "Parts per billion", "Gas"),
              ("81102", "PM10 Total 0-10um STP", "Micrograms/cubic meter (25 C)", "Particulate Matter"),
              ("42401", "Sulfur dioxide", "Parts per billion", "Gas")]
METHODS = ["R & P Model 2025", "INSTRUMENTAL - UV", "INSTRUMENTAL - CHEM"]
AQI_CATEGORIES = [(50, "Good"), (100, "Moderate"), (150, "Unhealthy for Sensitive Groups"),
                  (200, "Unhealthy"), (300, "Very Unhealthy"), (10**9, "Hazardous")]

DOCUMENTS = 1_000
CORPUS_SEED = 20_240_917
SOURCES = 20
VOCAB = ("batch part spark line column order small sort fast value scan hash slow group "
         "agg filter query big key window row table stream merge data vector join "
         "customer").split()


def _lineitem(rng, rows, start, days):
    """TPC-H-like rows: orders of 1-7 lines, ship dates after order dates."""
    per = rng.integers(1, 8, size=rows)
    order_of_line = np.repeat(np.arange(rows), per)[:rows]
    first = np.r_[0, np.flatnonzero(np.diff(order_of_line)) + 1]
    line = np.arange(rows) - np.repeat(first, np.diff(np.r_[first, rows]))
    orderkey = order_of_line * 4 + 1 + rng.integers(0, 4, size=rows).take(order_of_line)
    odate = rng.integers(0, days - 121, size=rows).take(order_of_line)
    ship = odate + rng.integers(1, 122, size=rows)
    ts = np.datetime64(start, "us") + ship.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(orderkey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20_001, size=rows, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, size=rows, dtype=np.int64)),
        "l_linenumber": pa.array((line + 1).astype(np.int32)),
        "l_shipdate": pa.array(ts, type=pa.timestamp("us")),
    })


def _gold(rng, out_dir):
    """The five gold star tables with the columns `SilverToGold` publishes."""
    dates = np.arange(np.datetime64(LINEITEM_START), np.datetime64(LINEITEM_END) + 1)
    py = [d.astype(dt.date) for d in dates]
    key = np.array([d.year * 10000 + d.month * 100 + d.day for d in py], dtype=np.int64)
    dow = np.array([(d.isoweekday() % 7) + 1 for d in py], dtype=np.int32)  # 1 = Sunday
    tables = {"dim_date": pa.table({
        "date": pa.array(dates.astype("datetime64[D]")),
        "date_key": key,
        "year": np.array([d.year for d in py], dtype=np.int32),
        "month": np.array([d.month for d in py], dtype=np.int32),
        "month_name": [d.strftime("%B") for d in py],
        "day": np.array([d.day for d in py], dtype=np.int32),
        "day_of_week": dow,
        "day_name": [d.strftime("%A") for d in py],
        "quarter": np.array([(d.month - 1) // 3 + 1 for d in py], dtype=np.int32),
        "is_weekend": np.isin(dow, [1, 7]),
    })}
    state = rng.integers(1, 51, size=GOLD_SITES)
    county = rng.integers(1, 10, size=GOLD_SITES)
    tables["dim_location"] = pa.table({
        "location_key": np.arange(1, GOLD_SITES + 1, dtype=np.int64) * 7919,
        "state_code": [f"{x:02d}" for x in state],
        "county_code": [f"{x:03d}" for x in county],
        "site_number": [f"{i:04d}" for i in range(GOLD_SITES)],
        "state_name": [f"State {x:02d}" for x in state],
        "county_name": [f"County {x:03d}" for x in county],
        "city": [f"City{x:03d}" for x in county],
        "cbsa_name": pa.array([None if (i % 5 == 0) else f"Metro {x:02d}" for i, x in enumerate(state)]),
        "latitude": state + 0.5,
        "longitude": county - 100.25,
        "population": (state * 100000 + 7).astype(np.int32),
        "region": [("Northeast", "Midwest", "South", "West")[x % 4] for x in state],
    })
    tables["dim_parameter"] = pa.table({
        "parameter_key": np.arange(1, len(PARAMETERS) + 1, dtype=np.int64) * 104729,
        "parameter_code": [p[0] for p in PARAMETERS],
        "parameter_name": [p[1] for p in PARAMETERS],
        "unit_of_measurement": [p[2] for p in PARAMETERS],
        "category": [p[3] for p in PARAMETERS],
    })
    tables["dim_method"] = pa.table({
        "method_key": np.arange(1, len(METHODS) + 1, dtype=np.int64) * 1299709,
        "method_code": ["118", "087", "074"],
        "method_name": METHODS,
    })
    n = GOLD_FACT_ROWS
    aqi = rng.integers(0, 350, size=n).astype(np.int32)
    cats = np.array([next(c for hi, c in AQI_CATEGORIES if a <= hi) for a in range(350)])
    tables["fact"] = pa.table({
        "date_key": key[rng.integers(0, len(key), size=n)],
        "location_key": tables["dim_location"]["location_key"].to_numpy()[rng.integers(0, GOLD_SITES, size=n)],
        "parameter_key": tables["dim_parameter"]["parameter_key"].to_numpy()[rng.integers(0, len(PARAMETERS), size=n)],
        "poc": rng.integers(1, 3, size=n).astype(np.int32),
        "method_key": tables["dim_method"]["method_key"].to_numpy()[rng.integers(0, len(METHODS), size=n)],
        "arithmetic_mean": rng.integers(0, 8000, size=n) / 100.0,
        "first_max_value": rng.integers(0, 10000, size=n) / 100.0,
        "first_max_hour": rng.integers(0, 24, size=n).astype(np.int32),
        "aqi": aqi,
        "observation_count": rng.integers(1, 25, size=n).astype(np.int32),
        "observation_percent": rng.integers(50, 101, size=n).astype(np.float64),
        "aqi_category": cats[aqi],
        "exceeds_standard": aqi > 100,
    })
    for name, t in tables.items():
        pq.write_table(t, out_dir / f"{name}.parquet")


def _documents(rng, n):
    """Short token texts over a small vocabulary, with exact-key and near
    duplicates, so every curation stage keeps some documents and drops some."""
    p = np.full(len(VOCAB) + 2, 1.0)
    p[-2:] = 2.5  # "a", "the": the quality gate wants stop words
    p /= p.sum()
    words = VOCAB + ["a", "the"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:  # near duplicate: a few words substituted
            toks = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(toks), size=rng.integers(1, 3)):
                toks[j] = words[rng.choice(len(words), p=p)]
        else:
            toks = [words[k] for k in rng.choice(len(words), size=rng.integers(12, 100), p=p)]
            if i > 10 and r < 0.13:  # same leading words: an exact-dedup key collision
                toks[:3] = texts[rng.integers(0, i)].split()[:3]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(workload, seed, out_dir):
    """Write the workload's inputs to out_dir."""
    rng = np.random.default_rng([seed, 20_240_917])
    if workload == "gold_serving":
        _gold(rng, out_dir)
    elif workload == "medallion_batch":
        days = (LINEITEM_END - LINEITEM_START).days + 1
        pq.write_table(_lineitem(rng, LINEITEM_ROWS, LINEITEM_START, days),
                       out_dir / "lineitem.parquet")
        # the traced run's curation side op: one corpus for every seed, as
        # its DuckDB restatement takes ~30 s, so the expected digest is
        # computed once per checkout and cached
        pq.write_table(_documents(np.random.default_rng(CORPUS_SEED), DOCUMENTS),
                       out_dir / "documents.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
