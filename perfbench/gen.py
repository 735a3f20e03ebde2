"""Seeded input generator for the benchmark.

Everything the program reads is made here from `--seed`, so the same seed
gives byte-identical inputs and a different seed gives different ones:

* `sf/`        the TPC-H-shaped star schema (region, nation, customer,
               supplier, part, orders, lineitem) plus the `documents`
               corpus, in the column layout the program's `Tables`
               loaders and oracle SQL expect;
* `blueforty/` the BlueForty Q1-Q8 inputs derived from `sf/`: monthly
               purchase CSVs (Q1's 21-column positional layout), monthly
               invoice XML (Q3), `supplier_case.csv` (Q6), a gazetteer TSV
               and station/timeseries tables (Q7);
* `stream/`    the streaming day's arrivals (re-crawl variants, bridges
               between near-miss corpus pairs, fresh docs), split into
               triggers by the seed.

The generator also returns what it knows about its own output (the exact
number of malformed cells it planted, per source) for the correctness gate.
"""
import datetime as dt
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_LAST = dt.date(2001, 11, 4)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# the first id domain registered for arrivals in the program
# (ExtensionQueries.ArrivalOffsets "increment"): arrival ids must sit
# above the whole corpus id domain
ARRIVAL_OFFSET = 5_000_000_000_000
TRIGGER_STRIDE = 1_000_000

# Q6/Q7 sizes, independent of the scale factor: zips of supplier_case
# (every supplier's and prospects') and weather stations, so Q7's
# nearest-station search over zips x stations stays compute-bound
CASE_ZIPS = 400
STATIONS = 2500

# rows per table at scale factor 1, as in the repo's test corpus
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000}


def _days(d):
    return (d - EPOCH).days


def _rand_days(rng, n, first, last):
    return rng.integers(_days(first), _days(last) + 1, n)


def _ts(days):
    """Day numbers → naive microsecond timestamps at midnight."""
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


@functools.lru_cache(maxsize=None)
def _mdy(days):
    d = EPOCH + dt.timedelta(days=int(days))
    return f"{d.month}/{d.day}/{d.year}"


def _iso(days):
    return (EPOCH + dt.timedelta(days=int(days))).isoformat()


def make_sf(root, rng, sf, n_docs):
    """The star schema (and optionally the documents corpus) under
    `root/sf`; returns the generated columns for the derived inputs."""
    out = os.path.join(root, "sf")
    os.makedirs(out, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    i32, i64 = pa.int32(), pa.int64()

    _write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS}), f"{out}/region.parquet")
    _write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
        f"{out}/nation.parquet")

    nc = n["customer"]
    _write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)]}),
        f"{out}/customer.parquet")

    ns = n["supplier"]
    s_nation = rng.integers(0, 25, ns)
    s_acct = np.round(rng.uniform(-999.99, 9999.99, ns), 2)
    _write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(s_nation, i32),
        "s_acctbal": s_acct}), f"{out}/supplier.parquet")

    npart = n["part"]
    p_name = [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(
        rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
    _write_parquet(pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": p_name,
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")

    no = n["orders"]
    o_status = np.array(["F", "O", "P"])[rng.integers(0, 3, no)]
    o_date = _rand_days(rng, no, ORDER_FIRST, ORDER_LAST)
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": o_status.tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)]}),
        f"{out}/orders.parquet")

    nl = n["lineitem"]
    li = {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _rand_days(rng, nl, SHIP_FIRST, SHIP_LAST),
    }
    _write_parquet(pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], i64),
        "l_partkey": pa.array(li["l_partkey"], i64),
        "l_suppkey": pa.array(li["l_suppkey"], i64),
        "l_linenumber": pa.array(li["l_linenumber"], i32),
        "l_quantity": li["l_quantity"],
        "l_extendedprice": li["l_extendedprice"],
        "l_discount": li["l_discount"],
        "l_tax": li["l_tax"],
        "l_returnflag": li["l_returnflag"].tolist(),
        "l_linestatus": li["l_linestatus"].tolist(),
        "l_shipdate": _ts(li["l_shipdate"])}), f"{out}/lineitem.parquet")

    docs = None
    if n_docs:
        docs = make_corpus(rng, n_docs)
        _write_parquet(pa.table({
            "doc_id": pa.array([d for d, _ in docs["corpus"]], i64),
            "text": [t for _, t in docs["corpus"]],
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS),
                                                     len(docs["corpus"]))],
            "source": [f"src{k % 20}" for k in range(len(docs["corpus"]))],
            "n_chars": pa.array([len(t) for _, t in docs["corpus"]], i64)}),
            f"{out}/documents.parquet")
    return {"orders": {"status": o_status, "date": o_date},
            "lineitem": li, "part_name": p_name, "n": n,
            "supplier": {"nation": s_nation, "acctbal": s_acct},
            "docs": docs}


# ------------------------------------------------------------ corpus

def _shingles(words):
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def make_corpus(rng, n_docs):
    """Random-word documents plus planted structure: exact-ish copies
    (" dup" appended), and near-miss pairs (A, B) — two windows of one
    word run, Jaccard just under the 0.8 gate — whose middle window is
    held back as a stream arrival that merges their clusters."""
    vocab = np.array(WORDS)
    corpus, bridges = [], []
    i = 0
    n_pairs = n_docs // 25
    while len(bridges) < n_pairs:
        length = int(rng.integers(45, 95))
        for _ in range(8):
            shift = int(rng.integers(length // 8, length // 4))
            run = vocab[rng.integers(0, len(vocab), length + shift)].tolist()
            a, b = run[:length], run[shift:shift + length]
            x = run[shift // 2:shift // 2 + length]
            if (_jaccard(a, b) < 0.8 and _jaccard(a, x) >= 0.8
                    and _jaccard(b, x) >= 0.8):
                corpus += [(i, " ".join(a)), (i + 1, " ".join(b))]
                bridges.append(" ".join(x))
                i += 2
                break
    while i < n_docs:
        if i > 10 and rng.random() < 0.05:
            src = corpus[int(rng.integers(0, len(corpus)))][1]
            corpus.append((i, src + " dup"))
        else:
            k = int(rng.integers(10, 101))
            corpus.append((i, " ".join(vocab[rng.integers(0, len(vocab), k)])))
        i += 1
    return {"corpus": corpus, "bridges": bridges}


def make_arrivals(root, rng, docs, triggers, per_trigger):
    """The streaming day: per trigger, 90%-prefix re-crawls of corpus
    docs, re-crawls of earlier arrivals, bridges and fresh docs."""
    out = os.path.join(root, "stream")
    os.makedirs(out, exist_ok=True)
    vocab = np.array(WORDS)
    corpus = [t for _, t in docs["corpus"] if len(t.split()) >= 20]
    bridges = list(docs["bridges"])
    order = rng.permutation(len(bridges))
    ids, texts, trig = [], [], []
    earlier = []
    for t in range(triggers):
        batch = []
        for _ in range(per_trigger // 2):
            w = corpus[int(rng.integers(0, len(corpus)))].split()
            batch.append(" ".join(w[:(len(w) * 9 + 9) // 10]))
        for _ in range(per_trigger // 8):
            if earlier:
                w = earlier[int(rng.integers(0, len(earlier)))].split()
                batch.append(" ".join(w[:max(3, len(w) - 1)]))
        take = order[t::triggers]
        batch += [bridges[k] for k in take]
        while len(batch) < per_trigger:
            k = int(rng.integers(10, 101))
            batch.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
        for k, text in enumerate(batch):
            ids.append(ARRIVAL_OFFSET + t * TRIGGER_STRIDE + k)
            texts.append(text)
            trig.append(t)
        earlier += [x for x in batch if len(x.split()) >= 20]
    _write_parquet(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "trigger": pa.array(trig, pa.int32())}), f"{out}/arrivals.parquet")
    return len(ids)


# --------------------------------------------------------- BlueForty

def make_blueforty(root, rng, base):
    """Q1-Q8 inputs derived from the generated star schema. Returns the
    planted malformed-cell counts per source."""
    out = os.path.join(root, "blueforty")
    pdir, xdir = f"{out}/purchases", f"{out}/invoices"
    os.makedirs(pdir, exist_ok=True)
    os.makedirs(xdir, exist_ok=True)
    li, orders = base["lineitem"], base["orders"]
    n_supp = base["n"]["supplier"]
    rejected = {"purchases": 0, "invoices": 0, "supplier_case": 0}

    # ---- Q1: one purchase line per lineitem, one file per order month
    okey = li["l_orderkey"]
    odays = orders["date"][okey]
    months = np.datetime_as_string(odays.astype("datetime64[D]"), unit="M")
    qty = li["l_quantity"].astype(int)
    received = np.maximum(qty - (rng.random(len(qty)) < 0.1), 0)
    price = np.round(li["l_extendedprice"] / li["l_quantity"], 2)
    delivery = rng.integers(1, 5, len(qty))
    contact = rng.integers(1, 40, len(qty))
    # planted cells: bad values in typed columns (each a rejected value)
    # and NULL_IF null-likes (normalized to NULL on read, never rejected)
    bad = rng.random(len(qty))
    header = ("PurchaseOrderID,SupplierID,OrderDate,DeliveryMethodID,"
              "ContactPersonID,ExpectedDeliveryDate,SupplierReference,"
              "IsOrderFinalized,U1,U2,U3,U4,PurchaseOrderLineID,StockItemID,"
              "OrderedOuters,Description,ReceivedOuters,U5,"
              "ExpectedUnitPricePerOuter,LastReceiptDate,"
              "IsOrderLineFinalized")
    by_month = {}
    for r in np.argsort(months, kind="stable"):
        od = int(odays[r])
        f = [str(int(okey[r])), str(int(li["l_suppkey"][r])), _mdy(od),
             str(int(delivery[r])), str(int(contact[r])), _mdy(od + 7),
             f"REF{int(okey[r]) % 100000:05d}",
             "1" if orders["status"][okey[r]] == "F" else "0",
             "x", "x", "x", "x", str(int(r)), str(int(li["l_partkey"][r])),
             str(int(qty[r])), f'"  {base["part_name"][li["l_partkey"][r]]},  "',
             str(int(received[r])), "x", f"{price[r]:.2f}",
             _mdy(int(li["l_shipdate"][r])),
             "1" if li["l_linestatus"][r] == "F" else "0"]
        b = bad[r]
        if b < 0.004:
            f[2] = "13/45/" + f[2].split("/")[-1]       # bad OrderDate
            rejected["purchases"] += 1
        elif b < 0.006:
            f[16] = f[16] + ".5x"                      # bad ReceivedOuters
            rejected["purchases"] += 1
        elif b < 0.008:
            f[19] = "not-a-date"                       # bad LastReceiptDate
            rejected["purchases"] += 1
        elif b < 0.009:
            f[7] = "y"                                 # bad flag
            rejected["purchases"] += 1
        elif b < 0.012:
            f[6] = ["N/A", "\\N", "NULL", ""][int(b * 1e6) % 4]
        elif b < 0.014:
            f[18] = ["N/A", "\\N"][int(b * 1e6) % 2]
        by_month.setdefault(months[r], []).append(",".join(f))
    for k, (m, rows) in enumerate(sorted(by_month.items())):
        sep = "-" if k % 2 == 0 else "_"
        with open(f"{pdir}/purchases_{m.replace('-', sep)}.csv", "w",
                  newline="") as fh:
            fh.write(header + "\n" + "\n".join(rows) + "\n")

    # ---- Q3: one invoice per (order, supplier) of the purchase lines,
    # one XML file per order month
    amounts = {}
    for r in range(len(qty)):
        key = (int(okey[r]), int(li["l_suppkey"][r]))
        amounts[key] = amounts.get(key, 0) + int(received[r]) * int(
            round(price[r] * 100))
    tx_id = 100000
    files = {}
    for (o, s), cents in sorted(amounts.items()):
        od = int(orders["date"][o])
        m = (EPOCH + dt.timedelta(days=od)).strftime("%Y-%m")
        cents += int(rng.integers(-500, 501)) if rng.random() < 0.3 else 0
        tax = cents * 15 // 100
        fin = orders["status"][o] == "F"
        fields = [("SupplierTransactionID", str(tx_id)),
                  ("SupplierID", str(s)), ("PurchaseOrderID", str(o)),
                  ("SupplierInvoiceNumber", f"INV-{tx_id}"),
                  ("TransactionDate", _iso(od + 5)),
                  ("AmountExcludingTax", f"{cents / 100:.2f}"),
                  ("TaxAmount", f"{tax / 100:.2f}"),
                  ("TransactionAmount", f"{(cents + tax) / 100:.2f}"),
                  ("OutstandingBalance",
                   "0.00" if fin else f"{(cents + tax) / 100:.2f}"),
                  ("FinalizationDate", _iso(od + 12) if fin else None),
                  ("IsFinalized", "1" if fin else "0")]
        b = rng.random()
        if b < 0.004:
            fields = fields[1:]                        # keyless element
            rejected["invoices"] += 1
        elif b < 0.008:
            fields[2] = ("PurchaseOrderID", "")        # empty tag
            rejected["invoices"] += 1
        elif b < 0.011:
            fields[4] = ("TransactionDate", "2013-02-30")
            rejected["invoices"] += 1
        tx_id += 1
        body = "".join(f"    <{k}>{v}</{k}>\n" for k, v in fields
                       if v is not None)
        files.setdefault(m, []).append(f"  <Transaction>\n{body}  </Transaction>\n")
    for m, txs in sorted(files.items()):
        with open(f"{xdir}/supplier_transactions_{m}.xml", "w") as fh:
            fh.write("<SupplierTransactions>\n" + "".join(txs)
                     + "</SupplierTransactions>\n")

    # ---- Q6: supplier_case.csv — every supplier plus prospects, mixed
    # date formats and null-likes so each inference rule fires; bad
    # cells only after the 100-row inference sample
    zips = rng.choice(np.arange(10000, 100000),
                      size=max(n_supp * 3 // 2, CASE_ZIPS), replace=False)
    sc_rows = ["supplierid,suppliername,postalpostalcode,deliverypostalcode,"
               "accountopened,creditlimit,allnull"]
    n_case = 2 * len(zips)
    case_zip = {}
    for k in range(n_case):
        z = int(zips[k % len(zips)])
        post = str(z)
        if k == 7:
            post = f"{z // 1000}x{z % 100:02d}"          # alphanumeric zip
        elif k % 23 == 5:
            post = ""
        deliv = str(z) if k % 17 else ["NULL", "\\N", "None"][k % 3]
        opened = 15000 + int(rng.integers(0, 2000))
        d = EPOCH + dt.timedelta(days=opened)
        opened_s = [d.isoformat(), f"{d.month}/{d.day}/{d.year}",
                    f"{d.year}/{d.month}/{d.day}"][k % 3]
        credit = (f"{int(rng.integers(500, 20000))}" if k % 2
                  else f"{rng.integers(50000, 2000000) / 100:.2f}")
        allnull = ["NULL", "", "\\N", "None"][k % 4]
        if k >= 100:
            b = rng.random()
            if b < 0.03:
                opened_s = "2012-13-45"
                rejected["supplier_case"] += 1
            elif b < 0.06:
                credit = "N/A"
                rejected["supplier_case"] += 1
            elif b < 0.08:
                deliv = "9801O"
                rejected["supplier_case"] += 1
        case_zip[k] = post
        sc_rows.append(",".join([str(k), f"Supplier {k}", post, deliv,
                                 opened_s, credit, allnull]))
    with open(f"{out}/supplier_case.csv", "w", newline="") as fh:
        fh.write("\n".join(sc_rows) + "\n")

    # ---- Q7: gazetteer (every case zip plus decoys), stations, and a
    # daily timeseries covering the order dates
    gz = ["GEOID\tALAND\tINTPTLAT\tINTPTLONG"]
    z_lat, z_lon = [], []
    for z in zips:
        lat = rng.uniform(25.0, 49.0)
        lon = rng.uniform(-124.0, -67.0)
        gz.append(f"{int(z)}\t{int(rng.integers(100, 99999))}\t"
                  f"{lat:.4f}\t{lon:.4f}")
        z_lat.append(round(lat, 4))
        z_lon.append(round(lon, 4))
    with open(f"{out}/gazetteer.tsv", "w", newline="") as fh:
        fh.write("\n".join(gz) + "\n")
    s_lat = np.round(rng.uniform(25.0, 49.0, STATIONS), 4)
    s_lon = np.round(rng.uniform(-124.0, -67.0, STATIONS), 4)
    ids = np.array([f"USW{k:08d}" for k in range(STATIONS)])
    _write_parquet(pa.table({
        "NOAA_WEATHER_STATION_ID": ids.tolist(),
        "LATITUDE": s_lat, "LONGITUDE": s_lon}), f"{out}/stations.parquet")
    # a timeseries for each zip's nearest station (haversine) and a few
    # decoys: Q7 searches every station, Q8 reads only the nearest ones
    zl, sl = np.radians(np.array(z_lat))[:, None], np.radians(s_lat)[None, :]
    h = (np.sin((sl - zl) / 2) ** 2 + np.cos(zl) * np.cos(sl)
         * np.sin((np.radians(s_lon)[None, :]
                   - np.radians(np.array(z_lon))[:, None]) / 2) ** 2)
    near = np.union1d(np.argmin(h, axis=1), np.arange(40))
    days = np.arange(_days(ORDER_FIRST), _days(ORDER_LAST) + 1)
    st = np.repeat(near, len(days))
    dd = np.tile(days, len(near))
    hi = np.round(rng.uniform(-10.0, 38.0, len(dd)), 1)
    lo = np.round(hi - rng.uniform(2.0, 15.0, len(dd)), 1)
    _write_parquet(pa.table({
        "NOAA_WEATHER_STATION_ID": np.concatenate([ids[st], ids[st]]).tolist(),
        "DATE": pa.array(np.concatenate([dd, dd]).astype("int32"),
                         pa.date32()),
        "VALUE": np.concatenate([hi, lo]),
        "VARIABLE_NAME": ["Maximum Temperature"] * len(dd)
        + ["Minimum Temperature"] * len(dd)}), f"{out}/timeseries.parquet")
    return rejected


def make_inputs(root, seed, sf, n_docs=0, triggers=0, per_trigger=0,
                blueforty=False):
    """Write the star schema under `root`; with `n_docs` also the corpus
    and the streaming day, with `blueforty` the BlueForty inputs. Return
    the facts the correctness gate needs."""
    rng = np.random.Generator(np.random.PCG64(seed))
    base = make_sf(root, rng, sf, n_docs)
    facts = {"seed": seed, "sf": sf}
    if n_docs:
        facts["arrivals"] = make_arrivals(root, rng, base["docs"], triggers,
                                          per_trigger)
    if blueforty:
        facts["rejected"] = make_blueforty(root, rng, base)
    return facts
