"""Seeded input generators for the benchmark. Everything here runs before
timing starts and is keyed only by the seed.

- `pages`:  a ClinicalTrials.gov-shaped page chain (`page_N.json` linked by
  `nextPageToken`, short last page), a pipeline config and a ground-truth
  file with the expected pipeline counts.
- `tables`: the ten parquet tables the registry and the stream kernels read
  (same names, column names and types as the engine's fixture tables),
  generated in DuckDB from hash-derived values.
"""
import json
import os
import random

import duckdb

# --------------------------------------------------------------- page chain

# Essie terms of the reference config the pipeline runs with.
ESSIE_TERMS = ["AREA[StudyType]INTERVENTIONAL",
               "SEARCH[Location](AREA[LocationCountry]Canada)"]

# One criteria template per classifier label. Each text lands on its label
# through the rule cascade; the generator plants labels, the check counts
# them back out of the CSV.
CRITERIA = {
    "NOT MENTIONED": "Inclusion Criteria: adults aged 18 to 65 with {c}. "
                     "Exclusion Criteria: prior surgery for {c}.",
    "PREGNANT OR POSTPARTUM": "Inclusion Criteria: women who are pregnant or postpartum "
                              "with {c}. Exclusion Criteria: severe anemia.",
    "FERTILITY": "Inclusion Criteria: couples trying to get pregnant despite {c}. "
                 "Exclusion Criteria: prior assisted reproduction.",
    "POSTPARTUM": "Inclusion Criteria: postpartum women with {c} within six weeks of "
                  "delivery. Exclusion Criteria: sepsis.",
    "EXCLUDE_PREGNANCY": "Inclusion Criteria: adults with {c}. "
                         "Exclusion Criteria: pregnancy or breastfeeding.",
    "ONLY_PREGNANCY": "Inclusion Criteria: participants must be pregnant at enrollment "
                      "and have {c}. Exclusion Criteria: multiple gestation.",
    "INCLUDE_PREGNANCY": "Inclusion Criteria: adults with {c}, pregnant women eligible. "
                         "Exclusion Criteria: current smokers.",
}
CONDITIONS = ["asthma", "hypertension", "iron deficiency", "insomnia", "migraine",
              "type 2 diabetes", "depression", "obesity"]
COUNTRIES = ["Canada", "United States", "France", "Germany", "Brazil", "Japan"]
STATUSES = ["RECRUITING", "COMPLETED", "ACTIVE_NOT_RECRUITING", "NOT_YET_RECRUITING"]
PHASES = ["EARLY_PHASE1", "PHASE1", "PHASE2", "PHASE3", "PHASE4"]


def _study(rng, i):
    """One raw study document plus the facts the ground truth needs."""
    label = rng.choice(list(CRITERIA))
    missing_criteria = rng.random() < 0.05
    study_type = "INTERVENTIONAL" if rng.random() < 0.6 else "OBSERVATIONAL"
    countries = [rng.choice(COUNTRIES) for _ in range(rng.randint(0, 3))]
    ident = {"nctId": f"NCT{i:08d}", "briefTitle": f"Study {i} of {rng.choice(CONDITIONS)}"}
    if rng.random() < 0.7:
        ident["officialTitle"] = f"Official protocol {i}"
    status = {"overallStatus": rng.choice(STATUSES)}
    r = rng.random()
    year = rng.randint(2005, 2024)
    if r < 0.55:
        status["startDateStruct"] = {"date": f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"}
    elif r < 0.75:
        status["startDateStruct"] = {"date": f"{year}-{rng.randint(1, 12):02d}"}
    elif r < 0.9:  # bare YYYY: start_year becomes 'N/A'
        status["startDateStruct"] = {"date": str(year)}
    eligibility = {}
    if rng.random() < 0.9:
        eligibility["sex"] = rng.choice(["FEMALE", "ALL", "MALE"])
    if not missing_criteria:
        eligibility["eligibilityCriteria"] = CRITERIA[label].format(c=rng.choice(CONDITIONS))
    design = {"studyType": study_type}
    if rng.random() < 0.5:
        design["phases"] = [rng.choice(PHASES)]
    proto = {"identificationModule": ident, "statusModule": status,
             "designModule": design, "eligibilityModule": eligibility}
    if rng.random() < 0.8:
        proto["descriptionModule"] = {"briefSummary": f"Summary of study {i}, {rng.choice(CONDITIONS)}."}
        if rng.random() < 0.5:
            proto["descriptionModule"]["detailedDescription"] = f"Details for study {i}."
    if countries:
        proto["contactsLocationsModule"] = {"locations": [
            {"facility": f"Site {k}", "country": c} for k, c in enumerate(countries)]}
    passes = study_type == "INTERVENTIONAL" and "Canada" in countries
    return {"protocolSection": proto}, passes, ("NOT MENTIONED" if missing_criteria else label)


def pages(out, seed, n_pages, per_page, last_page):
    """Write the page chain, `config.yaml` and `truth.json` under `out`."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    # nct ids: random distinct numbers, so API order is not id order
    ids = rng.sample(range(1, 10 ** 8), (n_pages - 1) * per_page + last_page)
    passing = {}
    k = 0
    for p in range(1, n_pages + 1):
        size = per_page if p < n_pages else last_page
        studies = []
        for _ in range(size):
            doc, ok, label = _study(rng, ids[k])
            k += 1
            studies.append(doc)
            if ok:
                passing[doc["protocolSection"]["identificationModule"]["nctId"]] = label
        body = {"studies": studies}
        if p < n_pages:
            body["nextPageToken"] = f"page_{p + 1}.json"
        with open(os.path.join(out, f"page_{p}.json"), "w") as f:
            json.dump(body, f)
    # gate: head-max_rows slice by nct_id, then tuning-set membership
    ordered = sorted(passing)
    max_rows = len(ordered) * 3 // 4
    pool = ordered + [f"NCT{rng.randint(1, 10 ** 8 - 1):08d}" for _ in range(20)]
    tuning = sorted(rng.sample(pool, len(ordered) // 2))
    processed = [n for n in ordered[:max_rows] if n in set(tuning)]
    hist = {}
    for n in processed:
        hist[passing[n]] = hist.get(passing[n], 0) + 1
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write("ctgov:\n  page_size: %d\n  filter_advanced:\n" % per_page)
        f.writelines(f"    - {t}\n" for t in ESSIE_TERMS)
        f.write("ai_processing:\n  column_name: ai_determined_value\n")
        f.write(f"  max_rows: {max_rows}\n  debug_only_tuning_trials: true\n  tuning_trials:\n")
        f.writelines(f"    - {t}\n" for t in tuning)
    truth = {"studies": k, "pages": n_pages, "rows": len(ordered),
             "processed": len(processed), "bypassed": len(ordered) - len(processed),
             "labels": hist}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# ------------------------------------------------------------------- tables

def tables(out, seed, sf):
    """Write `<out>/<table>.parquet` for the ten fixture tables at scale
    `sf` (lineitem has 6,000,000 * sf rows). Returns row counts."""
    os.makedirs(out, exist_ok=True)
    n = {"customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
         "part": int(200000 * sf), "orders": int(1500000 * sf),
         "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
         "documents": max(200, int(50000 * sf)), "embeddings": max(200, int(50000 * sf)),
         "users": max(20, int(15000 * sf))}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, k): a uniform [0,1) value for row i, column tag k, this seed
    con.execute(f"CREATE MACRO u(i, k) AS (hash(i, {seed}, k) % 1000003)::DOUBLE / 1000003.0")
    con.execute("CREATE MACRO pick(i, k, m) AS floor(u(i, k) * m)::BIGINT")
    con.execute("CREATE MACRO money(i, k, lo, hi) AS round(lo + u(i, k) * (hi - lo), 2)")
    q = {
        "region": """SELECT i::INTEGER r_regionkey,
              ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER n_nationkey, 'NATION_' || i n_name, (i % 5)::INTEGER n_regionkey
              FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
              pick(i, 'cn', 25)::INTEGER c_nationkey, money(i, 'ca', -999.99, 9999.99) c_acctbal,
              ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][pick(i, 'cm', 5) + 1] c_mktsegment
              FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
              pick(i, 'sn', 25)::INTEGER s_nationkey, money(i, 'sa', -999.99, 9999.99) s_acctbal
              FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
              ['blue','hot','small','old','red','new','cold','large'][pick(i, 'pa', 8) + 1] || ' ' ||
              ['bolt','gear','anvil','widget','ring','rod','plate','gizmo'][pick(i, 'pn', 8) + 1] p_name,
              'Brand#' || (pick(i, 'pb', 25) + 1) p_brand,
              ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'][pick(i, 'pt', 6) + 1] p_type,
              (pick(i, 'ps', 50) + 1)::INTEGER p_size, round(900 + pick(i, 'pr', 1000) / 10, 1) p_retailprice
              FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, pick(i, 'oc', {n['customer']}) o_custkey,
              ['F','O','P'][pick(i, 'os', 3) + 1] o_orderstatus, money(i, 'op', 1000, 500000) o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(pick(i, 'od', 2404)::INTEGER) o_orderdate,
              ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 'oq', 5) + 1] o_orderpriority
              FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT pick(i, 'lo', {n['orders']}) l_orderkey, pick(i, 'lp', {n['part']}) l_partkey,
              pick(i, 'ls', {n['supplier']}) l_suppkey, (pick(i, 'll', 7) + 1)::INTEGER l_linenumber,
              (pick(i, 'lq', 50) + 1)::DOUBLE l_quantity, money(i, 'le', 900, 105000) l_extendedprice,
              pick(i, 'ld', 11) / 100 l_discount, pick(i, 'lt', 9) / 100 l_tax,
              ['A','N','R'][pick(i, 'lr', 3) + 1] l_returnflag, ['F','O'][pick(i, 'lx', 2) + 1] l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(pick(i, 'lsd', 2498)::INTEGER) l_shipdate
              FROM range({n['lineitem']}) t(i)""",
        # ts increases with event_id over a 30-day window, as in the fixture
        "events": f"""SELECT i event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(((i + u(i, 'et')) * 2592000000000
                  / {n['events']})::BIGINT) ts,
              pick(i, 'eu', {n['users']}) user_id,
              ['click','error','purchase','signup','view'][pick(i, 'ey', 5) + 1] event_type,
              money(i, 'ev', 0.01, 490.0) AS "value", '{{"k": ' || pick(i, 'ek', 100) || '}}' props
              FROM range({n['events']}) t(i)""",
    }
    vocab = ("join hash row batch scan customer column filter small slow merge order vector "
             "line data table agg value key stream window spark a group part big sort query "
             "fast the").split()
    vl = "[" + ",".join(f"'{w}'" for w in vocab) + "]"
    # word-soup documents; ~5% are near-duplicates (an earlier doc + ' dup')
    q["documents"] = f"""WITH base AS (
              SELECT i, array_to_string(list_transform(range((8 + pick(i, 'dl', 90))::BIGINT),
                  j -> {vl}[pick(i * 1000 + j, 'dw', {len(vocab)}) + 1]), ' ') txt FROM range({n['documents']}) t(i))
            SELECT b.i AS doc_id, CASE WHEN u(b.i, 'dd') < 0.05 AND b.i > 0
                THEN s.txt || ' dup' ELSE b.txt END AS text,
              CASE WHEN u(b.i, 'dg') < 0.44 THEN 'en'
                ELSE ['de','es','fr','zh'][pick(b.i, 'dh', 4) + 1] END AS lang,
              'src' || (b.i % 20) AS source
            FROM base b LEFT JOIN base s ON s.i = pick(b.i, 'ds', greatest(b.i, 1))"""
    # 64-dim unit vectors around ten label centroids
    q["embeddings"] = f"""WITH raw AS (
              SELECT i, pick(i, 'el', 10)::INTEGER AS label,
                list_transform(range(64), j -> (u(pick(i, 'el', 10) * 64 + j, 'ec') - 0.5)
                    + 0.6 * (u(i * 64 + j, 'en') - 0.5)) AS v FROM range({n['embeddings']}) t(i))
            SELECT i AS vec_id, list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                AS embedding, label FROM raw"""
    for t, sql in q.items():
        if t == "documents":
            sql = f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ({sql})"
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    counts = {t: con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0] for t in q}
    con.close()
    return counts
