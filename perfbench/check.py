"""The benchmark's correctness gate, run outside the timed region.

* tpch22: every query's collected rows against `SparkEntry.oracleSql`
  run by DuckDB over the same generated parquet.
* etl_day: every materialized BlueForty table against an independent
  restatement (DuckDB over the generated files), the rejected-value
  count against the generator's planted count, and both the served
  stream view and the folded durable cluster map against the
  from-scratch connected components of corpus ∪ arrivals.

`gate` returns a list of problems (empty means every check passed) and
the per-layer facts it counted on the way (`sources.rejected_values`).
"""
import decimal
import json
import math
import os
import xml.etree.ElementTree as ET

import duckdb
import pyarrow as pa


def norm(v):
    """One cell as a comparable string (Spark's typed JSON cells and
    DuckDB's Python values map to the same text)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, str):
        for tag in ("dec:", "date:", "ts:"):
            if v.startswith(tag):
                v = v[len(tag):]
                return str(decimal.Decimal(v).normalize()) if tag == "dec:" else v
        return v
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("T", " ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


def rows_of(cells):
    return sorted("\x01".join(norm(v) for v in r) for r in cells)


def connect(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/tmp/duckdb'")
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    return con


def check_tpch22(work):
    with open(f"{work}/gate/tpch22.json") as f:
        g = json.load(f)
    con = connect(work)
    sf = f"{work}/data/sf"
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    problems = []
    for name, sql in sorted(g["oracle_sql"].items()):
        got = g["results"].get(name)
        if got is None:
            problems.append(f"{name}: no result")
            continue
        rel = con.sql(sql)
        if sorted(rel.columns) != sorted(got["columns"]):
            problems.append(f"{name}: columns {got['columns']} vs {rel.columns}")
            continue
        order = [got["columns"].index(c) for c in rel.columns]
        want = rows_of(rel.fetchall())
        have = rows_of([[r[i] for i in order] for r in got["rows"]])
        if want != have:
            diff = [(a, b) for a, b in zip(have, want) if a != b][:2]
            problems.append(f"{name}: {len(have)} rows vs oracle {len(want)}; "
                            f"first diffs {diff}")
        elif not want:
            problems.append(f"{name}: empty result")
    return problems


# ---------------------------------------------------------- blueforty_dag

def _restate_dag(con, data):
    """Q1-Q8 restated from the generated files with DuckDB (ids as
    DECIMAL(18,0): values compare by value, and DuckDB's DECIMAL(38,0)
    TRY_CAST is slow)."""
    bf = f"{data}/blueforty"
    nulls = "('\\N','NULL','','N/A')"

    def cell(i):
        return (f"CASE WHEN trim(column{i - 1:02d}) IN {nulls} THEN NULL "
                f"ELSE trim(column{i - 1:02d}) END")

    def mdy(c):
        return f"try_strptime({c}, '%-m/%-d/%Y')::DATE"

    def flag(c):
        return f"TRY_CAST({c} AS INTEGER) = 1"

    con.execute(f"""CREATE TABLE raw_p AS SELECT * FROM read_csv(
        '{bf}/purchases/*.csv', header=true, all_varchar=true, quote='"',
        filename=true, auto_detect=false, columns={{
        {", ".join(f"'column{i:02d}': 'VARCHAR'" for i in range(21))}}})""")
    con.execute(f"""CREATE TABLE purchases AS SELECT
        TRY_CAST({cell(1)} AS DECIMAL(18,0)) AS PurchaseOrderID,
        TRY_CAST({cell(2)} AS DECIMAL(18,0)) AS SupplierID,
        {mdy(cell(3))} AS OrderDate,
        TRY_CAST({cell(4)} AS DECIMAL(18,0)) AS DeliveryMethodID,
        TRY_CAST({cell(5)} AS DECIMAL(18,0)) AS ContactPersonID,
        {mdy(cell(6))} AS ExpectedDeliveryDate,
        {cell(7)} AS SupplierReference,
        {flag(cell(8))} AS IsOrderFinalized,
        TRY_CAST({cell(13)} AS DECIMAL(18,0)) AS PurchaseOrderLineID,
        TRY_CAST({cell(14)} AS DECIMAL(18,0)) AS StockItemID,
        TRY_CAST({cell(15)} AS DECIMAL(18,4)) AS OrderedOuters,
        {cell(16)} AS Description,
        TRY_CAST({cell(17)} AS DECIMAL(18,4)) AS ReceivedOuters,
        TRY_CAST({cell(19)} AS DECIMAL(18,4)) AS ExpectedUnitPricePerOuter,
        {mdy(cell(20))} AS LastReceiptDate,
        {flag(cell(21))} AS IsOrderLineFinalized,
        regexp_extract(filename, '[^/]*$') AS SRC_FILENAME
        FROM raw_p""")
    con.execute("""CREATE TABLE po_totals AS SELECT PurchaseOrderID,
        OrderDate, SupplierID,
        ROUND(SUM(COALESCE(ReceivedOuters, 0)
                  * COALESCE(ExpectedUnitPricePerOuter, 0)), 2) AS POAmount
        FROM purchases GROUP BY ALL""")
    # invoices: each file whole, then every <Transaction> element of
    # every file, in order
    names = sorted(os.listdir(f"{bf}/invoices"))
    docs = []
    for fn in names:
        with open(f"{bf}/invoices/{fn}", encoding="utf-8") as f:
            docs.append(f.read())
    con.register("xml_raw", pa.table({"DOC": docs, "SRC_FILENAME": names}))
    inv = []
    for fn in names:
        root = ET.parse(f"{bf}/invoices/{fn}").getroot()
        for i, t in enumerate(root):
            d = {c.tag: (c.text or "") for c in t}
            inv.append([d.get(k) for k in _TAGS] + [i])
    raw_inv = pa.table({k: [r[j] for r in inv] for j, k in
                        enumerate(_TAGS + ["XML_INDEX"])})
    con.register("raw_inv", raw_inv)
    con.execute("""CREATE TABLE invoices AS SELECT
        TRY_CAST(SupplierTransactionID AS DECIMAL(18,0)) AS SupplierTransactionID,
        TRY_CAST(SupplierID AS DECIMAL(18,0)) AS SupplierID,
        TRY_CAST(NULLIF(PurchaseOrderID, '') AS DECIMAL(18,0)) AS PurchaseOrderID,
        NULLIF(SupplierInvoiceNumber, '') AS SupplierInvoiceNumber,
        TRY_CAST(TransactionDate AS DATE) AS TransactionDate,
        TRY_CAST(AmountExcludingTax AS DECIMAL(18,2)) AS AmountExcludingTax,
        TRY_CAST(TaxAmount AS DECIMAL(18,2)) AS TaxAmount,
        TRY_CAST(TransactionAmount AS DECIMAL(18,2)) AS TransactionAmount,
        TRY_CAST(OutstandingBalance AS DECIMAL(18,2)) AS OutstandingBalance,
        TRY_CAST(FinalizationDate AS DATE) AS FinalizationDate,
        TRY_CAST(IsFinalized AS INTEGER) = 1 AS IsFinalized,
        CAST(XML_INDEX AS DECIMAL(18,0)) AS XML_INDEX
        FROM raw_inv WHERE SupplierTransactionID IS NOT NULL""")
    con.execute("""CREATE TABLE po_inv AS
        WITH ia AS (SELECT PurchaseOrderID, SupplierID AS INV_SUPPLIERID,
                      SUM(AmountExcludingTax) AS InvoiceExTaxTotal
                    FROM invoices GROUP BY ALL)
        SELECT p.PurchaseOrderID, p.OrderDate, p.SupplierID, p.POAmount,
          ia.InvoiceExTaxTotal, ia.InvoiceExTaxTotal - p.POAmount
            AS invoiced_vs_quoted
        FROM po_totals p JOIN ia ON p.PurchaseOrderID = ia.PurchaseOrderID""")
    # supplier_case: the inferred types are known from the generator's
    # layout (id, name, zip string, zip int, date, float, all-null)
    sc_nulls = "('None','','NULL','\\N')"

    def sc(c):
        return f"CASE WHEN {c} IN {sc_nulls} THEN NULL ELSE {c} END"
    con.execute(f"""CREATE TABLE supplier_case AS SELECT
        TRY_CAST({sc('supplierid')} AS BIGINT) AS supplierid,
        {sc('suppliername')} AS suppliername,
        {sc('postalpostalcode')} AS postalpostalcode,
        TRY_CAST({sc('deliverypostalcode')} AS BIGINT) AS deliverypostalcode,
        COALESCE(try_strptime({sc('accountopened')}, '%Y-%m-%d')::DATE,
                 try_strptime({sc('accountopened')}, '%m/%d/%Y')::DATE,
                 try_strptime({sc('accountopened')}, '%Y/%m/%d')::DATE)
          AS accountopened,
        TRY_CAST({sc('creditlimit')} AS DOUBLE) AS creditlimit,
        CAST(NULL AS VARCHAR) AS allnull
        FROM read_csv('{bf}/supplier_case.csv', header=true,
                      all_varchar=true)""")
    con.execute(f"""CREATE TABLE zip5 AS SELECT
        regexp_replace(lpad(COALESCE(postalpostalcode,
          CAST(deliverypostalcode AS VARCHAR), ''), 5, '0'), '[^0-9]', '', 'g')
          AS ZIP5, supplierid, suppliername
        FROM supplier_case
        WHERE COALESCE(postalpostalcode, CAST(deliverypostalcode AS VARCHAR),
                       '') <> ''""")
    con.execute(f"""CREATE TABLE gaz AS SELECT CAST(GEOID AS VARCHAR) zip_code,
        TRY_CAST(INTPTLAT AS DOUBLE) latitude,
        TRY_CAST(INTPTLONG AS DOUBLE) longitude
        FROM read_csv('{bf}/gazetteer.tsv', delim='\t', header=true,
                      all_varchar=true)""")
    con.execute(f"""CREATE TABLE closest AS
        WITH z AS (SELECT DISTINCT g.zip_code, g.latitude lat, g.longitude lon
                   FROM supplier_case s JOIN gaz g
                   ON g.zip_code = s.postalpostalcode),
        d AS (SELECT z.zip_code, st.NOAA_WEATHER_STATION_ID station_id,
          2 * 6371.0 * asin(sqrt(
            pow(sin(radians(st.LATITUDE - z.lat) / 2), 2) +
            cos(radians(z.lat)) * cos(radians(st.LATITUDE)) *
            pow(sin(radians(st.LONGITUDE - z.lon) / 2), 2))) dist
          FROM z CROSS JOIN '{bf}/stations.parquet' st)
        SELECT zip_code, arg_min(station_id, dist) station_id
        FROM d GROUP BY zip_code""")
    con.execute(f"""CREATE TABLE weather AS SELECT c.zip_code,
        CAST(t.DATE AS DATE) AS date, t.VALUE AS high_temperature
        FROM closest c JOIN '{bf}/timeseries.parquet' t
          ON t.NOAA_WEATHER_STATION_ID = c.station_id
        WHERE t.VARIABLE_NAME = 'Maximum Temperature'""")
    con.execute("""CREATE TABLE enriched AS SELECT p.PurchaseOrderID,
        p.OrderDate, p.SupplierID, p.POAmount, p.InvoiceExTaxTotal,
        p.invoiced_vs_quoted, s.postalpostalcode AS ZIP, w.high_temperature
        FROM po_inv p JOIN supplier_case s ON p.SupplierID = s.supplierid
        JOIN weather w ON w.zip_code = s.postalpostalcode
          AND w.date = p.OrderDate""")


_TAGS = ["SupplierTransactionID", "SupplierID", "PurchaseOrderID",
         "SupplierInvoiceNumber", "TransactionDate", "AmountExcludingTax",
         "TaxAmount", "TransactionAmount", "OutstandingBalance",
         "FinalizationDate", "IsFinalized"]

# materialized table → restated table
_DAG = {
    "PURCHASES": "purchases",
    "SUPPLIER_INVOICES_XML_RAW": "xml_raw",
    "SUPPLIER_INVOICES": "invoices",
    "PURCHASE_ORDERS_AND_INVOICES": "po_inv",
    "SUPPLIER_CASE": "supplier_case",
    "SUPPLIER_ZIP5": "zip5",
    "CLOSEST_STATIONS": "closest",
    "SUPPLIER_ZIP_CODE_WEATHER": "weather",
    "PURCHASES_WITH_WEATHER": "enriched",
}


def _rejected(con, data, dag):
    """Per ingest stage: cells non-null in the raw input (after the
    stage's null-like rule) but null in the program's typed table, plus
    XML elements dropped for a missing key."""
    def nonnull(table, cols):
        return con.sql(f"SELECT {' + '.join(f'count({c})' for c in cols)} "
                       f"FROM {table}").fetchone()[0]
    typed_q1 = ["PurchaseOrderID", "SupplierID", "OrderDate",
                "DeliveryMethodID", "ContactPersonID", "ExpectedDeliveryDate",
                "SupplierReference", "IsOrderFinalized", "PurchaseOrderLineID",
                "StockItemID", "OrderedOuters", "Description", "ReceivedOuters",
                "ExpectedUnitPricePerOuter", "LastReceiptDate",
                "IsOrderLineFinalized"]
    nulls = "('\\N','NULL','','N/A')"
    raw_q1 = [f"CASE WHEN trim(column{i - 1:02d}) NOT IN {nulls} THEN 1 END"
              for i in (1, 2, 3, 4, 5, 6, 7, 8, 13, 14, 15, 16, 17, 19, 20, 21)]
    keyed = "(SELECT * FROM raw_inv WHERE SupplierTransactionID IS NOT NULL)"
    keyless = con.sql("SELECT count(*) FROM raw_inv "
                      "WHERE SupplierTransactionID IS NULL").fetchone()[0]
    sc = f"read_csv('{data}/blueforty/supplier_case.csv', header=true, all_varchar=true)"
    sc_cols = con.sql(f"SELECT * FROM {sc}").columns
    sc_nulls = "('None','','NULL','\\N')"
    return {
        "purchases": nonnull("raw_p", raw_q1)
        - nonnull(f"'{dag}/PURCHASES/*.parquet'", typed_q1),
        "invoices": nonnull(keyed, _TAGS) + keyless
        - nonnull(f"'{dag}/SUPPLIER_INVOICES/*.parquet'", _TAGS),
        "supplier_case": nonnull(sc, [
            f"CASE WHEN {c} NOT IN {sc_nulls} THEN 1 END" for c in sc_cols])
        - nonnull(f"'{dag}/SUPPLIER_CASE/*.parquet'", sc_cols)}


def _components(pairs):
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
    return {n: find(n) for n in parent}


def expected_clusters(con, data):
    """doc_id → component-min id over the word-3-gram Jaccard ≥ 0.8
    pair graph of corpus ∪ arrivals (the docs in some pair)."""
    pairs = con.sql(f"""
        WITH docs AS (
          SELECT doc_id, text FROM '{data}/sf/documents.parquet'
          UNION ALL SELECT doc_id, text FROM '{data}/stream/arrivals.parquet'),
        w AS (SELECT doc_id, string_split(text, ' ') ws FROM docs),
        sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] s
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) i
                     FROM w)),
        sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT ida, idb FROM inter
        JOIN sizes sa ON sa.doc_id = ida JOIN sizes sb ON sb.doc_id = idb
        WHERE c * 1000000 >= 800000 * (sa.n + sb.n - c)""").fetchall()
    return _components(pairs)


def check_dag(work, facts):
    with open(f"{work}/gate/blueforty_dag.json") as f:
        g = json.load(f)
    con = connect(work)
    data = f"{work}/data"
    problems = []
    _restate_dag(con, data)
    for table, restated in _DAG.items():
        have = con.sql(f"SELECT * FROM '{g['dag_dir']}/{table}/*.parquet'")
        # decimals compare by value whatever their scale
        cols = ", ".join(
            f"CAST({c} AS DOUBLE) AS {c}" if str(t).startswith("DECIMAL")
            else c for c, t in zip(have.columns, have.types)
            if c != "SRC_FILE_TS")
        q = (f"SELECT {cols} FROM '{g['dag_dir']}/{table}/*.parquet'",
             f"SELECT {cols} FROM {restated}")
        n_have, n_want = (con.sql(f"SELECT count(*) FROM ({x})").fetchone()[0]
                          for x in q)
        diff = con.sql(f"({q[0]} EXCEPT ALL {q[1]}) UNION ALL "
                       f"({q[1]} EXCEPT ALL {q[0]}) LIMIT 2").fetchall()
        if diff or n_have != n_want:
            problems.append(f"{table}: {n_have} rows vs restated {n_want}; "
                            f"first diffs {diff}")
        elif not n_have:
            problems.append(f"{table}: empty")
    planted = facts["rejected"]
    rejected = _rejected(con, data, g["dag_dir"])
    for k, v in rejected.items():
        if v != planted[k]:
            problems.append(f"rejected values in {k}: {v}, planted {planted[k]}")
    return problems, {"sources.rejected_values": sum(rejected.values())}


def check_stream(work):
    with open(f"{work}/gate/stream_day.json") as f:
        g = json.load(f)
    problems = []
    clusters = expected_clusters(connect(work), f"{work}/data")
    want = sorted(clusters.items())
    for name in ("view", "durable"):
        have = sorted((int(a), int(b)) for a, b in g[name]["rows"])
        if have != want:
            diff = sorted(set(have) ^ set(want))[:3]
            problems.append(f"stream {name}: {len(have)} rows vs from-scratch "
                            f"{len(want)}; first diffs {diff}")
    return problems


def gate(workload, work, facts):
    if workload == "tpch22":
        return check_tpch22(work), {}
    problems, found = check_dag(work, facts)
    return problems + check_stream(work), found
