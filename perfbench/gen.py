"""Deterministic input generators for the benchmark.

* `tables(dir, sf)` writes the ten catalog tables (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings) as one
  parquet file each, with the schemas and value domains the catalog queries
  read. The tables depend only on `sf`: the catalog workloads draw their seed
  into the query order, not into the data, so each query's row count is a
  fixed, checkable number.
* `filings(dir, seed, batches)` writes seeded batches of synthetic EDINET
  XBRL-to-CSV filings (raw UTF-16LE TSV and UTF-8-BOM CSV, ~900 rows each,
  amended re-filings and a few malformed filings) and returns, per batch, the
  KPI margins and quarantine count a correct ingest must produce.
"""
import csv
import datetime as dt
import io
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

WORDS = ("row the query stream value hash batch sort data big filter key agg "
         "scan slow table part a merge window order column join vector fast "
         "spark line small customer group").split()


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, sf):
    """Write every catalog table under `out` (idempotent per sf)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    k = sf / 0.01
    n_cust, n_supp = int(1500 * k), int(100 * k)
    n_part, n_ord = int(2000 * k), int(15000 * k)
    n_line, n_ev = int(60000 * k), int(10000 * k)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)}
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, int(150 * k)), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]}
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- EDINET
HEADER = ["要素ID", "項目名", "コンテキストID", "相対年度", "連結・個別",
          "期間・時点", "ユニットID", "単位", "値"]
FW = str.maketrans("0123456789", "０１２３４５６７８９")
KPI = {  # summary field -> (JGAAP element, IFRS element)
    "net_sales": ("jppfs_cor:NetSales", "jpigp_cor:RevenueIFRS"),
    "operating_income": ("jppfs_cor:OperatingIncome", "jpigp_cor:OperatingProfitLossIFRS"),
    "ordinary_income": ("jppfs_cor:OrdinaryIncome", "jpigp_cor:ProfitLossBeforeTaxIFRS"),
    "net_income": ("jppfs_cor:ProfitLossAttributableToOwnersOfParent",
                   "jpigp_cor:ProfitLossAttributableToOwnersOfParentIFRS"),
}
FILLER_ELEMENTS = 225
FILLER_CONTEXTS = ("CurrentYTDDuration", "Prior1YTDDuration",
                   "CurrentQuarterInstant", "Prior1YearInstant")


def _cover(eid, name, value):
    return [eid, name, "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", value]


def _filing_rows(rng, co, year, quarter, filed, kpi, malformed):
    """~900 rows of one quarterly filing; `malformed` breaks one field."""
    end = dt.date(year, 3 * quarter + 3 if quarter < 4 else 12, 28)
    start = end.replace(day=1)
    period = (f"第{year - 1990}期 第{str(quarter).translate(FW)}四半期"
              f"(自　{start.year}年{start.month}月{start.day}日　"
              f"至　{end.year}年{end.month}月{end.day}日)")
    name = co["name"]
    end_s = f"{end.year}/{end.month}/{end.day}"
    if malformed == "company":
        name = ""  # required company name missing
    elif malformed == "period":
        period = "第期 四半期(期間不明)"
    elif malformed == "date":
        end_s = f"{end.year}/13/45"
    rows = [
        _cover("jpdei_cor:EDINETCodeDEI", "EDINETコード", co["code"]),
        _cover("jpdei_cor:SecurityCodeDEI", "証券コード", co["sec"]),
        _cover("jpdei_cor:IndustryCodeWhenConsolidatedFinancialStatementsArePrepared"
               "InAccordanceWithIndustrySpecificRegulationsDEI", "別記事業", co["ind"]),
        _cover("jpcrp_cor:CompanyNameCoverPage", "会社名", name),
        _cover("jpcrp_cor:DocumentTitleCoverPage", "文書名", "四半期報告書"),
        _cover("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", "四半期会計期間", period),
        _cover("jpdei_cor:CurrentPeriodEndDateDEI", "当会計期間終了日", end_s),
        _cover("jpcrp_cor:FilingDateCoverPage", "提出日",
               f"{filed.year}/{filed.month}/{filed.day}"),
    ]
    ifrs = 1 if co["ifrs"] else 0
    for field, els in KPI.items():
        for ctx, v in (("CurrentYTDDuration", kpi[field]),
                       ("Prior1YTDDuration", int(kpi[field] * 0.9) or 1)):
            rows.append([els[ifrs], field, ctx, "当四半期累計期間", "連結", "期間",
                         "JPY", "円", str(v)])
    for j in range(FILLER_ELEMENTS):
        for ctx in FILLER_CONTEXTS:
            r = rng.random()
            v = "－" if r < 0.05 else ("該当なし" if r < 0.08 else str(int(rng.integers(1, 10**10))))
            rows.append([f"jppfs_cor:Filler{j:03d}", f"科目{j}", ctx, "当四半期累計期間",
                         "連結" if j % 3 else "個別", "期間" if "Duration" in ctx else "時点",
                         "JPY", "円", v])
    return rows


def _write_filing(path, rows, utf16):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if utf16:  # raw download: UTF-16LE + BOM, tab-delimited, every field quoted
        text = "\n".join("\t".join('"' + f.replace('"', '""') + '"' for f in r)
                         for r in [HEADER] + rows) + "\n"
        data = b"\xff\xfe" + text.encode("utf-16-le")
    else:  # golden-file variant: UTF-8 with BOM, comma-delimited
        buf = io.StringIO()
        csv.writer(buf, lineterminator="\n").writerows([HEADER] + rows)
        data = b"\xef\xbb\xbf" + buf.getvalue().encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _rates(k):
    ns = float(k["net_sales"])
    return [float(k[f]) / ns * 100 for f in ("operating_income", "ordinary_income", "net_income")]


def filings(out, seed, batches, companies=8, malformed_per_batch=1):
    """Write `batches` batch dirs of filings under `out`; return expectations."""
    rng = np.random.default_rng(seed)
    pyr = random.Random(seed)
    cos = [{"code": f"E{10000 + i * 37:05d}", "sec": f"{1300 + i * 7}0",
            "ind": "cte", "name": f"テスト工業{i}株式会社", "ifrs": i % 4 == 3}
           for i in range(companies)]
    latest = {}  # company name -> (year, quarter, kpi) of its newest accepted filing
    nxt = {c["code"]: (2015 + pyr.randrange(3), 1) for c in cos}
    kinds = ["company", "period", "date"]
    out_batches = []
    doc_no = 0
    for b in range(batches):
        bdir = os.path.join(out, f"batch{b:02d}")
        # same batch size for every seed: all companies file in batch 0;
        # later, two companies amend their latest filing and the rest file
        # their next period
        amend = pyr.sample(cos, 2) if b else []
        filers = [c for c in cos if c not in amend]
        bad = pyr.sample(cos, malformed_per_batch)
        docs = []
        for c in filers:
            y, q = nxt[c["code"]]
            nxt[c["code"]] = (y + 1, q % 4 + 1)  # one filing per fiscal year
            docs.append((c, y, q, None, 0))
        for c in amend:
            y, q, _ = latest[c["name"]]
            docs.append((c, y, q, None, 30))
        for i, c in enumerate(bad):
            docs.append((c, 2030, 1, kinds[(b + i) % 3], 0))
        nbytes = nrows = 0
        for c, y, q, mal, delay in docs:
            ns = int(rng.integers(10**9, 5 * 10**11))
            kpi = {"net_sales": ns}
            for f, lo, hi in (("operating_income", -0.05, 0.2),
                              ("ordinary_income", -0.05, 0.22),
                              ("net_income", -0.1, 0.15)):
                kpi[f] = int(ns * rng.uniform(lo, hi)) or 1
            filed = dt.date(y + 1, 2, 10) + dt.timedelta(days=delay)
            rows = _filing_rows(rng, c, y, q, filed, kpi, mal)
            doc_id = f"S1{seed % 1000:03d}{doc_no:04d}"
            utf16 = doc_no % 2 == 0  # raw downloads and golden files alternate
            doc_no += 1
            nbytes += _write_filing(
                os.path.join(bdir, doc_id, "XBRL_TO_CSV", f"jpcrp-{doc_id}.csv"), rows, utf16)
            nrows += len(rows)
            if mal is None:
                latest[c["name"]] = (y, q, kpi)
        out_batches.append({
            "dir": bdir, "filings": len(docs), "rows": nrows, "bytes": nbytes,
            "malformed": len(bad),
            "kpi": {name: _rates(k) for name, (_, _, k) in sorted(latest.items())}})
    return out_batches

