"""Seeded inputs for the benchmark workloads.

`generate` writes the ten parquet tables the query registry reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the schemas and value shapes of the engine's
scale-factor test data; `landing` writes the raw CSV landing of the
insurance DAG. Every value is a function of (seed, table, row) through
DuckDB's `hash`, or of a `random.Random(seed)` stream for the text and
vector tables, so one seed always gives the same files.

    python3 perfbench/datagen.py <out_dir> <seed>

writes the query tables (the sf0.01 layout).
"""
import math
import os
import random
import sys

import duckdb


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def generate(out_dir, seed):
    """Writes the query tables; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_evt, n_doc = 15000, 60000, 10000, 500
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(salt, col="i"):
        return f"hash({seed}, '{salt}', {col})"

    def u(salt, col="i"):
        return f"(({h(salt, col)} % 1000003)::DOUBLE / 1000003.0)"

    def pick(salt, values):
        arr = "[" + ",".join("'" + v + "'" for v in values) + "]"
        return f"{arr}[1 + ({h(salt)} % {len(values)})::INTEGER]"

    def write(name, sql):
        path = os.path.join(out_dir, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    write("region", """SELECT i::INTEGER AS r_regionkey, name AS r_name FROM
        (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'), (3, 'EUROPE'),
                (4, 'MIDDLE EAST')) t(i, name)""")
    write("nation", """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""")
    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write("customer", f"""SELECT i::BIGINT AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        ({h('c.nat')} % 25)::INTEGER AS c_nationkey,
        round(-999.99 + {u('c.bal')} * 10999.99, 2)::DOUBLE AS c_acctbal,
        {pick('c.seg', segments)} AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    write("supplier", f"""SELECT i::BIGINT AS s_suppkey,
        'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        ({h('s.nat')} % 25)::INTEGER AS s_nationkey,
        round(-999.99 + {u('s.bal')} * 10999.99, 2)::DOUBLE AS s_acctbal
        FROM range({n_supp}) t(i)""")
    adjs = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    write("part", f"""SELECT i::BIGINT AS p_partkey,
        {pick('p.adj', adjs)} || ' ' || {pick('p.noun', nouns)} AS p_name,
        'Brand#' || (1 + {h('p.brand')} % 25) AS p_brand,
        {pick('p.type', types)} AS p_type,
        (1 + {h('p.size')} % 50)::INTEGER AS p_size,
        round(900 + (i % 1000) * 0.1, 1)::DOUBLE AS p_retailprice
        FROM range({n_part}) t(i)""")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", f"""SELECT i::BIGINT AS o_orderkey,
        ({h('o.cust')} % {n_cust})::BIGINT AS o_custkey,
        {pick('o.status', ['P', 'O', 'F'])} AS o_orderstatus,
        round(1000 + {u('o.price')} * 499000, 2)::DOUBLE AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days(({h('o.date')} % 2405)::INTEGER))
          AS o_orderdate,
        {pick('o.prio', prios)} AS o_orderpriority
        FROM range({n_ord}) t(i)""")
    write("lineitem", f"""SELECT ({h('l.ord')} % {n_ord})::BIGINT AS l_orderkey,
        ({h('l.part')} % {n_part})::BIGINT AS l_partkey,
        ({h('l.supp')} % {n_supp})::BIGINT AS l_suppkey,
        (1 + {h('l.line')} % 7)::INTEGER AS l_linenumber,
        (1 + {h('l.qty')} % 50)::DOUBLE AS l_quantity,
        round(900 + {u('l.price')} * 104100, 2)::DOUBLE AS l_extendedprice,
        (({h('l.disc')} % 11)::INTEGER / 100.0)::DOUBLE AS l_discount,
        (({h('l.tax')} % 9)::INTEGER / 100.0)::DOUBLE AS l_tax,
        {pick('l.rf', ['A', 'N', 'R'])} AS l_returnflag,
        {pick('l.ls', ['O', 'F'])} AS l_linestatus,
        (TIMESTAMP '1995-01-01' + to_days(({h('l.ship')} % 2500)::INTEGER))
          AS l_shipdate
        FROM range({n_line}) t(i)""")
    span_us = 30 * 86400 * 1000000 // n_evt
    events = ["click", "signup", "error", "view", "purchase"]
    write("events", f"""SELECT i::BIGINT AS event_id,
        make_timestamp((1704067200000000 + i * {span_us}
          + {h('e.ts')} % {span_us})::BIGINT) AS ts,
        ({h('e.user')} % 150)::BIGINT AS user_id,
        {pick('e.type', events)} AS event_type,
        greatest(0.01, round(-ln(1 - {u('e.val')}) * 50, 2))::DOUBLE AS value,
        '{{"k": ' || ({h('e.k')} % 100) || '}}' AS props
        FROM range({n_evt}) t(i)""")

    rnd = random.Random(seed)
    vocab = ("join hash row batch scan customer column filter small slow merge "
             "order vector line data table agg value key stream window spark "
             "a group part big sort query fast the").split()
    langs = ["en"] * 3 + ["zh", "de", "fr", "es"]
    texts = []
    for i in range(n_doc):
        if i > 5 and rnd.random() < 0.05:
            # near-duplicate of a recent document
            base = texts[i - 1 - rnd.randrange(5)]
            texts.append(base + " dup")
        else:
            texts.append(" ".join(rnd.choice(vocab)
                                  for _ in range(rnd.randint(10, 99))))
    docs = [(i, t, rnd.choice(langs), "src%d" % (i % 20), len(t))
            for i, t in enumerate(texts)]
    con.execute("""CREATE TABLE documents (doc_id BIGINT, text VARCHAR,
        lang VARCHAR, source VARCHAR, n_chars BIGINT)""")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    write("documents", "SELECT * FROM documents ORDER BY doc_id")

    dim = 64
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs = []
    for i in range(n_doc):
        label = rnd.randrange(10)
        v = [c + rnd.gauss(0, 1.5) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append((i, [x / norm for x in v], label))
    con.execute("""CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[],
        label INTEGER)""")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", vecs)
    write("embeddings", "SELECT * FROM embeddings ORDER BY vec_id")
    rows = {t: con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'")
            .fetchone()[0] for t in sorted(TABLES)}
    con.close()
    return rows



def landing(out_dir, seed, customers):
    """Seeded raw landing for the insurance DAG, in RunPipeline's input
    format: `<entity>/part-0.csv` with a header, every column a string.

    Defects the silver layer has to handle:
      - about 8% of each entity's keys appear twice, the second copy with
        a later `updated_at` and `source_file_time` and changed values;
      - about 1% of customer, policy and claim rows have no ID (premiums
        are exempt: the reference premiums model has no missing-ID
        filter, so a null key would legitimately survive silver);
      - about 6% invalid emails, 2% negative premiums, 1% negative
        settlements, policies and claims without a parent ID;
      - policies draw their customer from a cubic skew, so low customer
        ids own most policies (heavy-tailed fan-out).

    Returns the row counts the audit must reconcile with: raw rows per
    entity and distinct non-null keys (= silver rows) per entity."""
    n = {"customers": customers, "policies": customers * 5 // 2,
         "claims": customers * 2, "premiums": customers * 6}
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(salt, col="k"):
        return f"hash({seed}, '{salt}', {col})"

    def u(salt, col="k"):
        return f"(({h(salt, col)} % 1000003)::DOUBLE / 1000003.0)"

    def pick(salt, values, col="k"):
        arr = "[" + ",".join("'" + v + "'" for v in values) + "]"
        return f"{arr}[1 + ({h(salt, col)} % {len(values)})::INTEGER]"

    def money(expr):
        return f"printf('%.2f', {expr})"

    def ts(base, days, salt):
        return (f"strftime(TIMESTAMP '{base}' + to_days(({days})::INTEGER) + "
                f"to_hours(({h(salt)} % 24)::INTEGER), '%Y-%m-%d %H:%M:%S')")

    def rows(entity):
        return (f"(SELECT k, 0 AS dup FROM range({n[entity]}) t(k) UNION ALL "
                f"SELECT k, 1 AS dup FROM range({n[entity]}) t(k) "
                f"WHERE {u(entity + '.dup')} < 0.08)")

    def key(entity, prefix):
        return (f"CASE WHEN {u(entity + '.miss')} < 0.01 THEN NULL "
                f"ELSE '{prefix}' || k END")

    def updated(entity):
        return ts("2024-01-01", f"{h(entity + '.upd')} % 120 + dup * 30",
                  entity + ".updh")

    def files(entity):
        return (f"'landing/{entity}/batch_' || dup || '.csv' AS source_file_path, "
                "CASE WHEN dup = 1 THEN '2024-06-02 00:00:00' "
                "ELSE '2024-06-01 00:00:00' END AS source_file_time")

    def skew(col):
        return f"floor(pow({u('po.cust', col)}, 3) * {customers})::BIGINT"

    first = ["alice", "bob", "carol", "dave", "erin", "frank", "grace",
             "heidi", "ivan", "judy", "mallory", "oscar"]
    sql = {
        "customers": f"""SELECT {key('customers', 'C')} AS customer_id,
            ' ' || {pick('cu.first', first)} || ' ' AS first_name,
            upper({pick('cu.last', ['smith', 'jones', 'wu', 'garcia', 'khan',
                                    'novak', 'okafor', 'rossi'])}) AS last_name,
            CASE WHEN {u('cu.mail')} < 0.06 THEN 'not-an-email'
                 ELSE {pick('cu.first', first)} || '.' || k || '@Example.com'
                 END AS email,
            '555-' || ({h('cu.phone')} % 10000) AS phone,
            strftime(DATE '1945-01-01' + ({h('cu.dob')} % 22000)::INTEGER,
                     '%Y-%m-%d') AS date_of_birth,
            ({h('cu.addr')} % 9999) || ' Main St' AS address,
            {pick('cu.city', ['Austin', 'Miami', 'NYC', 'Boston', 'Denver',
                              'Seattle'])} AS city,
            {pick('cu.state', ['TX', 'FL', 'NY', 'CA', 'NJ', 'CT', 'WA', 'CO',
                               'MA', 'IL'])} AS state,
            lpad(({h('cu.zip')} % 99999)::VARCHAR, 5, '0') AS zip_code,
            {money(f"20000 + {u('cu.inc', 'k + dup')} * 230000")} AS annual_income,
            (300 + {h('cu.credit')} % 551)::VARCHAR AS credit_score,
            {pick('cu.mar', [' single ', 'married', 'divorced ', 'widowed'])}
              AS marital_status,
            {pick('cu.occ', ['engineer', 'teacher', ' nurse', 'driver',
                             'student', 'retired'])} AS occupation,
            {ts('2023-01-01', h('cu.cre') + ' % 365', 'cu.creh')} AS created_at,
            {updated('customers')} AS updated_at, {files('customers')}
            FROM {rows('customers')}""",
        "policies": f"""SELECT {key('policies', 'P')} AS policy_id,
            CASE WHEN {u('po.nocust')} < 0.01 THEN NULL
                 ELSE 'C' || {skew('k')} END AS customer_id,
            {pick('po.type', [' auto ', 'home', 'life ', 'health'])} AS policy_type,
            {money(f"10000 + {u('po.cov')} * 990000")} AS coverage_amount,
            CASE WHEN {u('po.negprem')} < 0.02 THEN '-50.00'
                 ELSE {money(f"300 + {u('po.prem', 'k + dup')} * 5700")} END
              AS premium_amount,
            {money(f"{u('po.ded')} * 5000")} AS deductible,
            strftime(DATE '2019-01-01' + ({h('po.start')} % 1800)::INTEGER,
                     '%Y-%m-%d') AS start_date,
            strftime(DATE '2019-01-01' + ({h('po.start')} % 1800)::INTEGER
                     + (180 + {h('po.len')} % 900)::INTEGER, '%Y-%m-%d')
              AS end_date,
            {pick('po.status', [' active', 'expired ', 'cancelled', 'active'],
                  'k + dup')} AS status,
            'A' || ({h('po.agent')} % 60) AS agent_id,
            'U' || ({h('po.uw')} % 15) AS underwriter_id,
            {pick('po.freq', [' Monthly ', 'annual', 'quarterly'])}
              AS payment_frequency,
            {ts('2023-01-01', h('po.cre') + ' % 365', 'po.creh')} AS created_at,
            {updated('policies')} AS updated_at,
            CASE WHEN {u('po.rescue')} < 0.002 THEN '{{bad:1}}' END
              AS _rescued_data,
            {files('policies')}
            FROM {rows('policies')}""",
        "claims": f"""SELECT {key('claims', 'CL')} AS claim_id,
            CASE WHEN {u('cl.nopol')} < 0.01 THEN NULL ELSE 'P' || pol END
              AS policy_id,
            'C' || {skew('pol')} AS customer_id,
            {ts('2019-06-01', 'days', 'cl.dh')} AS claim_date,
            {ts('2019-06-01', f"days + {h('cl.delay')} % 45", 'cl.rh')}
              AS reported_date,
            {money('amount')} AS claim_amount,
            CASE WHEN {u('cl.negset')} < 0.01 THEN '-1.00'
                 ELSE {money(f"amount * (0.4 + {u('cl.set', 'k + dup')} * 0.6)")}
                 END AS settled_amount,
            {pick('cl.ded', ['250', '500', '1000'])} AS deductible_amount,
            {pick('cl.reason', [' collision', 'theft', 'fire ', 'flood',
                                'medical'])} AS claim_reason,
            {pick('cl.status', ['settled', ' open', 'denied ', 'settled'],
                  'k + dup')} AS status,
            'ADJ' || ({h('cl.adj')} % 40) AS adjuster_id,
            {pick('cl.type', ['auto', ' home', 'life', 'health '])} AS claim_type,
            {pick('cl.sev', ['low', ' medium', 'high', 'critical '])} AS severity,
            CASE WHEN {u('cl.fraud')} < 0.04 THEN '1' ELSE '0' END
              AS fraud_indicator,
            {ts('2023-01-01', h('cl.cre') + ' % 365', 'cl.creh')} AS created_at,
            {updated('claims')} AS updated_at, {files('claims')}
            FROM (SELECT *, floor({u('cl.pol')} * {n['policies']})::BIGINT AS pol,
                    {h('cl.date')} % 1500 AS days,
                    500 + {u('cl.amt')} * 49500 AS amount
                  FROM {rows('claims')})""",
        "premiums": f"""SELECT 'PM' || k AS premium_id, 'P' || pol AS policy_id,
            'C' || {skew('pol')} AS customer_id,
            {ts('2019-06-01', 'pay', 'pr.ph')} AS payment_date,
            {ts('2019-06-01', 'pay + 14', 'pr.dh')} AS due_date,
            CASE WHEN {u('pr.neg')} < 0.01 THEN '-20.00'
                 ELSE {money('amount')} END AS premium_amount,
            {pick('pr.freq', ['monthly', ' annual', 'quarterly '])}
              AS payment_frequency,
            {pick('pr.meth', [' credit card ', 'ach', 'check', 'debit card'])}
              AS payment_method,
            {pick('pr.stat', ['paid', ' late', 'pending ', 'paid'], 'k + dup')}
              AS payment_status,
            {money(f"{u('pr.late')} * 25")} AS late_fee,
            {money(f"{u('pr.disc')} * 10")} AS discount_applied,
            {money('amount * 0.08')} AS tax_amount,
            {money('amount * 1.08')} AS total_amount,
            'T-' || k || '-' || dup AS transaction_id,
            {pick('pr.proc', [' stripe ', 'adyen', 'paypal'])} AS payment_processor,
            {ts('2023-01-01', h('pr.cre') + ' % 365', 'pr.creh')} AS created_at,
            {updated('premiums')} AS updated_at, {files('premiums')}
            FROM (SELECT *, floor({u('pr.pol')} * {n['policies']})::BIGINT AS pol,
                    {h('pr.pay')} % 1500 AS pay,
                    25 + {u('pr.amt', 'k + dup')} * 975 AS amount
                  FROM {rows('premiums')})""",
    }
    keys = {"customers": "customer_id", "policies": "policy_id",
            "claims": "claim_id", "premiums": "premium_id"}
    expected = {"raw": {}, "silver": {}}
    for entity, q in sql.items():
        d = os.path.join(out_dir, entity)
        os.makedirs(d, exist_ok=True)
        con.execute(f"CREATE TABLE {entity} AS {q}")
        con.execute(f"COPY {entity} TO '{os.path.join(d, 'part-0.csv')}' "
                    "(HEADER, DELIMITER ',')")
        raw, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT {keys[entity]}) FROM {entity}"
        ).fetchone()
        expected["raw"][entity] = raw
        expected["silver"][entity] = distinct
    con.close()
    return expected


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
