"""Seeded workload generator for the sync benchmark.

Writes MySQL-dump pairs in the statement shape of graft.tools.DumpGen
(one `CREATE TABLE ... ) ENGINE=InnoDB;` per table, then 100-row
multi-row INSERTs) over seven TPC-H-ish tables, plus a `documents`
parquet table for the curation DAG. Rows are synthesised from the seed
alone, so the same seed gives byte-identical files.

The backup side differs from production by seeded row choices, 5% each:
rows dropped (INSERT ops), rows with one string value changed (UPDATE
ops) and extra rows past the largest key (DELETE ops). `lineitem` keys on
the non-unique `l_orderkey`, as DumpGen's does, so the engine's last-wins
dedup is exercised. The expected script statements are derived the
way the sync contract defines them (`expected_statements`).
"""
import random

ROWS = {  # rows per table, the sf0.01 sizes of the TPC-H-ish testdata
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000,
}

# (column, kind) with the first column the primary key. Kinds: int, str
# (free text), word (short label), money, ts.
SCHEMAS = {
    "region": [("r_regionkey", "int"), ("r_name", "word")],
    "nation": [("n_nationkey", "int"), ("n_name", "word"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "int"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "money"),
                 ("c_mktsegment", "word")],
    "supplier": [("s_suppkey", "int"), ("s_name", "str"),
                 ("s_nationkey", "int"), ("s_acctbal", "money")],
    "part": [("p_partkey", "int"), ("p_name", "str"), ("p_brand", "word"),
             ("p_type", "word"), ("p_size", "int"),
             ("p_retailprice", "money")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "word"), ("o_totalprice", "money"),
               ("o_orderdate", "ts"), ("o_orderpriority", "word")],
    "lineitem": [("l_orderkey", "int"), ("l_partkey", "int"),
                 ("l_suppkey", "int"), ("l_linenumber", "int"),
                 ("l_quantity", "money"), ("l_extendedprice", "money"),
                 ("l_discount", "money"), ("l_tax", "money"),
                 ("l_returnflag", "word"), ("l_linestatus", "word"),
                 ("l_shipdate", "ts")],
}
TABLES = list(SCHEMAS)  # DDL order of the dumps

WORDS = ("small ring brass steel copper green red blue polished brushed "
         "anodized plated standard economy large medium promo burnished "
         "customer supplier o'neil d'arcy north, south, east, west").split()
LABELS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "HOUSEHOLD",
          "MACHINERY", "BUILDING", "Brand#1", "Brand#2", "ECONOMY", "PROMO",
          "A", "F", "N", "O", "P", "R", "1-URGENT", "5-LOW", "3-MEDIUM"]
SQL_TYPE = {"int": "BIGINT", "str": "VARCHAR(255)", "word": "VARCHAR(255)",
            "money": "DOUBLE", "ts": "DATETIME"}


def _lit(kind, rng, i):
    if kind == "int":
        return str(rng.randrange(0, 100000))
    if kind == "money":
        return "%d.%02d" % (rng.randrange(0, 200000), rng.randrange(0, 100))
    if kind == "ts":
        return "'%04d-%02d-%02d 00:00:00'" % (
            rng.randrange(1992, 2001), rng.randrange(1, 13), rng.randrange(1, 29))
    if kind == "word":
        return "'" + rng.choice(LABELS) + "'"
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(2, 5)))
    return "'" + ("%s #%09d" % (text, i)).replace("'", "''") + "'"


def base_rows(seed):
    """{table: [row, ...]}, a row being a list of SQL literal strings."""
    rng = random.Random(seed)
    out = {}
    for t in TABLES:
        rows = []
        for i in range(ROWS[t]):
            row = [_lit(kind, rng, i) for _, kind in SCHEMAS[t]]
            # lineitem keys on its order, four lines per order on average
            row[0] = str(rng.randrange(ROWS["orders"]) if t == "lineitem"
                         else i)
            rows.append(row)
        out[t] = rows
    return out


def perturb(rows, seed, tables):
    """Backup rows: per table in `tables`, seeded 5% dropped, 5% with one
    string value changed and 5% extra rows keyed past the largest key;
    other tables are copied unchanged."""
    rng = random.Random(seed)
    out = {}
    for t in TABLES:
        src = rows[t]
        if t not in tables:
            out[t] = src
            continue
        n = len(src)
        k = max(1, n // 20)
        picked = rng.sample(range(n), min(n, 2 * k))
        drop, modify = set(picked[:k]), set(picked[k:])
        str_cols = [j for j, (_, kind) in enumerate(SCHEMAS[t])
                    if j > 0 and kind in ("str", "word")]
        kept = []
        for i, r in enumerate(src):
            if i in drop:
                continue
            if i in modify:
                r = list(r)
                j = rng.choice(str_cols)
                r[j] = "'%s MODIFIED %d'" % (r[j].strip("'")
                                             .replace("'", "").strip(), i)
            kept.append(r)
        top = max(int(r[0]) for r in src)
        extras = []
        for j in range(k):
            r = list(src[rng.randrange(n)])
            r[0] = str(top + 1 + j)
            extras.append(r)
        out[t] = kept + extras
    return out


def dump_text(rows):
    parts = []
    for t in TABLES:
        cols = [c for c, _ in SCHEMAS[t]]
        ddl = ["CREATE TABLE `%s` (" % t]
        ddl += ["  `%s` %s," % (c, SQL_TYPE[k]) for c, k in SCHEMAS[t]]
        ddl += ["  PRIMARY KEY (`%s`)" % cols[0], ") ENGINE=InnoDB;"]
        stmts = ["\n".join(ddl)]
        head = "INSERT INTO `%s` (%s) VALUES\n" % (
            t, ", ".join("`%s`" % c for c in cols))
        rs = rows[t]
        for b in range(0, len(rs), 100):
            stmts.append(head + ",\n".join(
                "(" + ", ".join(r) + ")" for r in rs[b:b + 100]) + ";")
        parts.append("\n".join(stmts))
    return "\n\n".join(parts)


def expected_statements(prod, backup):
    """The set of INSERT/UPDATE/DELETE lines a correct sync script holds,
    by the sync contract: last occurrence of a key wins; a key only in
    prod is replayed as an INSERT of its values, a key only in backup is
    deleted, and a key in both with different values gets an UPDATE
    setting every non-key column to its prod value."""
    out = set()
    for t in TABLES:
        cols = [c for c, _ in SCHEMAS[t]]
        p = {r[0]: r for r in prod[t]}
        b = {r[0]: r for r in backup[t]}
        for k in set(p) - set(b):
            out.add("INSERT INTO `%s` VALUES (%s);" % (t, ", ".join(p[k])))
        for k in set(b) - set(p):
            out.add("DELETE FROM `%s` WHERE `%s` = %s;" % (t, cols[0], k))
        for k in set(p) & set(b):
            if p[k] != b[k]:
                out.add("UPDATE `%s` SET %s WHERE `%s` = %s;" % (
                    t, ", ".join("`%s` = %s" % cv
                                 for cv in zip(cols[1:], p[k][1:])),
                    cols[0], k))
    return out


def changed_tables(seed):
    """Tables a state-resync backup differs in: a seeded nonempty subset
    of every table but lineitem (so the Merkle gate skips the largest)."""
    rng = random.Random(seed * 7919 + 1)
    cands = [t for t in TABLES if t != "lineitem"]
    return sorted(rng.sample(cands, rng.randrange(2, 4)))


def write(path, text):
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode("utf-8"))


DOC_WORDS = ("the a of and to in data spark table value key row scan join "
             "query window stream batch sort merge hash filter group agg "
             "column order line part customer fast slow big small").split()


def documents(seed, n, path):
    """`documents` parquet for the curation DAG: seeded texts with exact
    and near duplicates (so the dedup and LSH stages have work), rows in a
    seed-permuted order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 31 + 7)
    texts = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(rng.choice(texts))  # exact duplicate
        elif texts and r < 0.15:
            w = rng.choice(texts).split()
            w[rng.randrange(len(w))] = rng.choice(DOC_WORDS)
            texts.append(" ".join(w))  # near duplicate
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS)
                                  for _ in range(rng.randrange(12, 90))))
    order = list(range(n))
    rng.shuffle(order)
    doc_id = order
    text = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["src%d" % (i % 3) for i in order], pa.string()),
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })
    pq.write_table(table, path)
