"""Seeded input generation for the benchmark, plus the ingest oracle.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files, a different seed writes different ones.

Registry tables follow the shapes of the test fixtures in FIXTURES.md (A).
Ingest increments follow the three reference systems of FIXTURES.md B:

  lims     native MODIFIED_AT timestamp ref; YEAR/MONTH from CREATED_AT
  sap-pru  ref derived from BUDAT (yyyyMMdd) + CPUTM (HHmmss) strings
  c1       projection, sha256 of EMAIL__C, ISO-week partition
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
FIRST_VALUE = "2019-04-30T00:00:00.000000Z"
SYNC_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"

# Per-system table settings, in the shape graft.config.TableSettings takes.
SYSTEMS = {
    "lims": {"table": "SAMPLES", "ref_column": "MODIFIED_AT",
             "date_column": "CREATED_AT", "partitions": ["YEAR", "MONTH"]},
    "sap-pru": {"table": "MSEG", "ref_column": "REF_TS",
                "date_column": "BUDAT", "time_column": "CPUTM",
                "partitions": ["YEAR", "MONTH"]},
    "c1": {"table": "dbo.CONTACT", "ref_column": "SYSMODTIME",
           "columns_to_import": ["ID", "SYSMODTIME", "EMAIL__C", "IS_PRO__C"],
           "partitions": ["WEEK"]},
}

# Increment shape.
MIN_ROWS, MAX_ROWS = 1_000, 100_000
LATE_FRAC, NULL_FRAC, EQUAL_FRAC = 0.02, 0.01, 0.005
ROUND_SPAN_S = 36 * 3600          # each round's fresh rows cover 36 hours
EPOCH_START = dt.datetime(2019, 12, 27, tzinfo=UTC)  # straddles ISO week 1

_WRITE_OPTS = dict(compression="snappy", coerce_timestamps="us",
                   use_deprecated_int96_timestamps=False)


def _rng(seed, *stream):
    """Independent generator per (seed, stream) so adding a stream never
    shifts another one's draws."""
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **_WRITE_OPTS)


# ---------------------------------------------------------------- registry

# 1,260 made-up words: with a few dozen words, every 2-gram shingle is
# shared by most documents and the oracle's q31 shingle join grows with
# the square of the corpus.
VOCAB = np.array([a + b + c for a in "bcdfghjklmnprstvwz" for b in "aeiou"
                  for c in "bdgklmnprstxz"] +
                 [a + b for a in "bcdfghjklmnprstvwz" for b in "aeiou"])
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts_days(rng, n, start, days):
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days + 1, n) * np.int64(86_400_000_000)
    return pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# Registry scale: lineitem 6e6·SF rows. The graph and partition queries
# stay small (driver-bound at any size the run budget allows); the
# documents are large enough that q31's shingle kernel keeps the
# executor slots busy.
SF, DOCS, DOC_WORDS, VECS = 0.001, 6_000, (50, 300), 500


def registry_tables(seed):
    """The ten registry tables."""
    sf, docs, vecs = SF, DOCS, VECS
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, 3)
    colors = ["red", "blue", "green", "black", "white", "small", "large",
              "steel", "brass", "copper", "plastic", "wooden", "shiny"]
    nouns = ["widget", "bolt", "anvil", "ring", "gear"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in zip(
            r.integers(0, len(colors), n_part), r.integers(0, len(nouns), n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "LARGE", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    r = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": _ts_days(r, n_ord, "1995-01-01", 2404),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = _rng(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_line),
        "l_discount": np.round(r.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_line), 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts_days(r, n_line, "1995-01-02", 2498)})
    r = _rng(seed, 6)
    ev_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, max(150, n_ev // 67), n_ev),
        "event_type": r.choice(["click", "view", "purchase", "signup",
                                "error"], n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    r = _rng(seed, 7)
    texts = []
    for i in range(docs):
        if i > 10 and r.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(*DOC_WORDS)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    r = _rng(seed, 8)
    labels = r.integers(0, 10, vecs)
    centroids = r.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    v = r.normal(size=(vecs, 64)) + 1.2 * centroids[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_registry(seed, out_dir):
    for name, table in registry_tables(seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ ingest

def increment_sizes(seed, epoch, system, n):
    """`n` increment sizes for one system's epoch: the midpoints of `n`
    equal strata of the log-uniform distribution over [MIN_ROWS,
    MAX_ROWS], so every epoch commits the same spread of sizes; the seed
    picks their order."""
    u = (np.arange(n) + 0.5) / n
    sizes = np.round(MIN_ROWS * (MAX_ROWS / MIN_ROWS) ** u).astype(np.int64)
    return sizes[_rng(seed, 100, epoch, system).permutation(n)]


def _sap_strings(ts):
    """BUDAT (yyyyMMdd) and CPUTM (HHmmss) strings of second-precision
    datetime64 values."""
    iso = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    return ([x[:10].replace("-", "") for x in iso],
            [x[11:].replace(":", "") for x in iso])


def make_increment(seed, system, epoch, rnd, n, wm_us, id_base):
    """One increment of `n` rows for `system`, landing after watermark
    `wm_us` (epoch micros). Mixes fresh rows, late rows (< watermark),
    null refs and rows equal to the watermark. Returns the table and each
    row's ref in epoch micros (-1 where the ref is null)."""
    r = _rng(seed, 200, epoch, rnd, list(SYSTEMS).index(system))
    span = ROUND_SPAN_S * 1_000_000
    start = int(EPOCH_START.timestamp() * 1e6) + rnd * span
    ref = start + r.integers(0, span, n)
    kind = r.random(n)
    floor_us = int(dt.datetime(2019, 1, 1, tzinfo=UTC).timestamp() * 1e6)
    late = kind < LATE_FRAC
    ref[late] = r.integers(floor_us, wm_us, int(late.sum()))
    if system == "sap-pru":
        ref = ref // 1_000_000 * 1_000_000  # the derived ref has seconds only
    eq = (kind >= LATE_FRAC) & (kind < LATE_FRAC + EQUAL_FRAC)
    eq[0] = True  # at least one row sits exactly on the watermark
    ref[eq] = wm_us
    null = kind > 1 - NULL_FRAC
    ids = id_base + np.arange(n, dtype=np.int64)
    ts = ref.astype("datetime64[us]")
    if system == "lims":
        created = ts - r.integers(0, 40 * 86_400, n).astype("timedelta64[s]")
        table = pa.table({
            "ID": ids,
            "MODIFIED_AT": pa.array(ts, pa.timestamp("us", tz="UTC"),
                                    mask=null),
            "CREATED_AT": pa.array(created.astype("datetime64[us]"),
                                   pa.timestamp("us", tz="UTC")),
            "RESULT": np.round(r.normal(50, 10, n), 3),
            "ANALYST": r.choice(["ana", "bo", "cy", "di"], n)})
    elif system == "sap-pru":
        budat, cputm = _sap_strings(ts)
        table = pa.table({
            "ID": ids,
            "BUDAT": pa.array(budat, pa.string(), mask=null),
            "CPUTM": pa.array(cputm, pa.string()),
            "MENGE": np.round(r.uniform(0, 1000, n), 3),
            "WERKS": r.choice(["P100", "P200", "P300"], n)})
    else:
        email_null = r.random(n) < 0.1
        table = pa.table({
            "ID": ids,
            "SYSMODTIME": pa.array(ts, pa.timestamp("us", tz="UTC"), mask=null),
            "EMAIL__C": pa.array([f"user{i}@example.org" for i in ids],
                                 pa.string(), mask=email_null),
            "IS_PRO__C": r.random(n) < 0.3,
            "NAME": [f"name{i}" for i in ids]})
    return table, np.where(null, -1, ref)


def admit(ref, wm_us):
    """The ingestion contract for one step: rows with a non-null ref
    (>= 0) strictly past the watermark are committed, and the watermark
    moves to their maximum, or stays put when none pass.
    Returns (mask, new watermark)."""
    mask = (ref >= 0) & (ref > wm_us)
    return mask, (int(ref[mask].max()) if mask.any() else wm_us)


def _year_month(us):
    """Unpadded YEAR and MONTH partition strings of epoch micros."""
    m = np.asarray(us).astype("datetime64[us]").astype("datetime64[M]")
    return ((m.astype("datetime64[Y]").astype(int) + 1970).astype(str),
            (m.astype(int) % 12 + 1).astype(str))


def _iso_week(us):
    """ISO-8601 week number strings of epoch micros: the week holding a
    date is numbered by its Thursday's offset into that Thursday's year."""
    d = np.asarray(us).astype("datetime64[us]").astype("datetime64[D]")
    thursday = d - ((d.astype(int) + 3) % 7) + 3
    jan1 = thursday.astype("datetime64[Y]").astype("datetime64[D]")
    return ((thursday - jan1).astype(int) // 7 + 1).astype(str)


def committed_rows(system, table, ref):
    """The columns the sink must hold for the admitted rows of `table`:
    ID plus the partition values; c1 adds the hashed email and the
    stringified flag."""
    out = {"ID": table.column("ID").to_numpy()}
    if system == "lims":
        created = table.column("CREATED_AT").cast(pa.int64()).to_numpy()
        out["YEAR"], out["MONTH"] = _year_month(created)
    elif system == "sap-pru":
        out["YEAR"], out["MONTH"] = _year_month(ref)
    else:
        out["EMAIL__C"] = np.array(
            [None if e is None else hashlib.sha256(e.encode()).hexdigest()
             for e in table.column("EMAIL__C").to_pylist()], dtype=object)
        out["IS_PRO__C"] = np.where(
            table.column("IS_PRO__C").to_numpy(zero_copy_only=False),
            "true", "false")
        out["WEEK"] = _iso_week(ref)
    return out


def first_wm_us():
    return int(dt.datetime.strptime(FIRST_VALUE, SYNC_FORMAT)
               .replace(tzinfo=UTC).timestamp() * 1_000_000)


def format_sync(us):
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))) \
        .strftime(SYNC_FORMAT)


def write_epoch(seed, epoch, rounds, out_dir):
    """Land-ready increments of one epoch under out_dir/r<k>/<system>.parquet
    and the exactly-once expectation for it: per system the committed
    columns (sorted by ID), the committed count per step and the final
    sync.json watermark."""
    expect = {}
    for si, system in enumerate(SYSTEMS):
        wm = first_wm_us()
        parts, counts = [], []
        for rnd, n in enumerate(increment_sizes(seed, epoch, si, rounds)):
            n = int(n)
            id_base = (epoch * 1000 + rnd) * 1_000_000 + si * 200_000
            table, ref = make_increment(seed, system, epoch, rnd, n, wm,
                                        id_base)
            _write(table, os.path.join(out_dir, f"r{rnd}", f"{system}.parquet"))
            mask, wm = admit(ref, wm)
            parts.append(committed_rows(system, table.filter(pa.array(mask)),
                                        ref[mask]))
            counts.append(int(mask.sum()))
        rows = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        expect[system] = {"rows": rows, "counts": counts,
                          "sync": format_sync(wm)}
    return expect
