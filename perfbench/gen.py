"""Seeded input generators. Every generator is a pure function of its
seed and size: the same (seed, size) writes the same files.

- `tables`: the ten TPC-H-ish tables the `SparkEntry` queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), shaped like the sf0.1 reference data: uniform
  keys, 30-token vocabulary documents, unit-norm 64-d embeddings.
- `gtfs_feed`: a GTFS feed (routes, stops S0..S49, trips T0..T<n-1>,
  stop_times, calendar) whose ids join with `etl.SyntheticGen`'s delay
  events.
- `event_files`: the landing files of the ingest stream, `events` schema,
  users drawn from a configurable key space.

Delay events and weather come from the library itself
(`etl.SyntheticGen`) through the `Gen` main in the Scala package.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value agg column big vector a").split()
LANGS = np.array(["en", "en", "en", "fr", "de", "es", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
US = np.int64(1_000_000)
DAY_US = 86_400 * US


def _write(path, cols, schema=None):
    pq.write_table(pa.table(cols, schema=schema), path)


def _ts(base, offsets_us):
    """Naive microsecond timestamps: `base` (YYYY-MM-DD) plus offsets."""
    return (np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, first_id, n, users, t0_us, span_us):
    """`events`-schema columns: ids from `first_id`, sorted timestamps
    spread over [t0, t0 + span) microseconds after 2024-01-01."""
    offs = np.sort(rng.integers(0, span_us, n)) + t0_us
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts("2024-01-01", offs),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n).astype(str)),
                             "}"),
    }


def tables(out, seed, scale=1.0, other_scale=None):
    """The ten query tables at `scale` × sf0.1 row counts; with
    `other_scale`, only documents and embeddings get `scale` and the rest
    get `other_scale` (a corpus for the text and vector operators)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    text = ("documents", "embeddings")
    n = {k: max(int(v * (scale if other_scale is None or k in text
                         else other_scale)), 10) for k, v in dict(
        customer=15000, supplier=1000, part=20000, orders=150000,
        lineitem=600000, events=100000, documents=5000,
        embeddings=2000).items()}
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    _write(f"{out}/region.parquet", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    c = n["customer"]
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = np.array("red blue hot cold new old large small".split())
    noun = np.array("bolt ring rod plate anvil gear nut pipe".split())
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "),
                              noun[rng.integers(0, 8, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, p)],
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, li) * DAY_US)})
    _write(f"{out}/events.parquet",
           _events(rng, 0, n["events"], 1500, 0, 30 * DAY_US))
    d = n["documents"]
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 101, d)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in rng.choice(d, size=max(d // 600, 1), replace=False):
        texts[i] = texts[(i + 1) % d]      # a few exact-duplicate pairs
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), d)],
        "source": np.char.add("src", (np.arange(d) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    e = n["embeddings"]
    vecs = rng.standard_normal((e, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(e, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, e))})
    return n


def gtfs_feed(out, seed, trips, stops_per_trip=12, routes=40):
    """GTFS CSV feed; returns the row count of each file."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    def csv(name, header, rows):
        with open(f"{out}/{name}.txt", "w") as f:
            f.write(",".join(header) + "\n")
            f.writelines(",".join(map(str, r)) + "\n" for r in rows)
        return len(rows)

    counts = {}
    counts["routes"] = csv("routes", [
        "route_id", "agency_id", "route_short_name", "route_long_name",
        "route_url", "route_desc", "route_type", "route_color",
        "route_text_color", "route_sort_order"],
        [(f"R{i}", "A1", 10 + i, f"Line {i}", "", "", int(rng.integers(0, 4)),
          "" if i % 7 == 0 else f"{int(rng.integers(0, 1 << 24)):06X}",
          "" if i % 5 == 0 else "FFFFFF", i) for i in range(routes)])
    counts["stops"] = csv("stops", [
        "stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon",
        "wheelchair_boarding", "platform_code", "stop_url"],
        [(f"S{i}", f"C{i}", f"Stop {i}",
          f"{45.4 + rng.uniform(0, 0.3):.8f}",
          f"{-73.8 + rng.uniform(0, 0.3):.8f}",
          "" if i % 9 == 0 else int(rng.integers(0, 3)), "", "")
         for i in range(50)])
    counts["trips"] = csv("trips", [
        "route_id", "service_id", "trip_id", "trip_headsign", "direction_id",
        "block_id", "shape_id", "wheelchair_accessible", "bikes_allowed"],
        [(f"R{int(rng.integers(0, routes))}",
          "WE" if t % 4 == 0 else "WK", f"T{t}", f"Head {t % 9}", t % 2,
          f"B{t % 200}", f"SH{t % 80}", "" if t % 11 == 0 else 1, 0)
         for t in range(trips)])
    rows = []
    for t in range(trips):
        stops = rng.choice(50, size=stops_per_trip, replace=False)
        start = int(rng.integers(5 * 3600, 22 * 3600))
        gaps = rng.integers(60, 420, stops_per_trip).cumsum()
        for seq, (s, g) in enumerate(zip(stops, gaps), start=1):
            a = start + int(g)
            hms = lambda x: f"{x // 3600:02d}:{x // 60 % 60:02d}:{x % 60:02d}"
            rows.append((f"T{t}", hms(a), hms(a + 30), f"S{s}", seq, "",
                         f"{seq * 0.75:.2f}", "" if seq % 6 == 0 else 1))
    counts["stop_times"] = csv("stop_times", [
        "trip_id", "arrival_time", "departure_time", "stop_id",
        "stop_sequence", "stop_headsign", "shape_dist_traveled", "timepoint"],
        rows)
    counts["calendar"] = csv("calendar", [
        "service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
        "saturday", "sunday", "start_date", "end_date"],
        [("WK", 1, 1, 1, 1, 1, 0, 0, "2024-01-01", "2024-12-31"),
         ("WE", 0, 0, 0, 0, 0, 1, 1, "2024-01-01", "2024-12-31")])
    return counts


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def event_files(out, seed, files, events_per_file, users):
    """`files` landing files of consecutive, time-ordered event slices
    (one simulated minute each), users uniform over `users` keys."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for i in range(files):
        cols = _events(rng, i * events_per_file, events_per_file, users,
                       i * 60 * US, 60 * US)
        _write(f"{out}/part-{i:05d}.parquet", cols, EVENTS_SCHEMA)
