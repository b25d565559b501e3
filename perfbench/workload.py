"""Seeded inputs of the end-to-end SPARQL benchmark.

Everything the engine sees is made here from the run's seed:

* `make_tables` writes TPC-H-shaped source tables (the schema of the
  repo's test data) as parquet. `graft.sources.TpchQuads` projects them
  to quads inside the JVM; DuckDB reads the same files as the oracle.
* `query_plan` draws the query mix. Each entry carries the SPARQL text
  the engine runs and the DuckDB SQL whose answer it must equal.
  Constants are drawn from the source tables' key domains.

Query shapes follow S2RDF (VLDB 2016) and WatDiv: star, linear,
snowflake and complex (GROUP BY + ORDER BY) on the `urn:p:` vocabulary,
plus point and 1-2-hop lookups from one bound entity.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring"]
NATIONS = 25
# order keys are dense 0..orders-1 and cut into this many contiguous
# blocks; `ingest_plan` picks which blocks arrive as appends
ORDER_BLOCKS = 8

BGP_SHAPES = ["star", "linear", "snowflake", "complex"]
LOOKUP_SHAPES = ["point", "hop"]
P = "PREFIX : <urn:p:> "


def table_sizes(orders):
    return {"orders": orders, "customer": max(orders // 10, 50),
            "part": max(orders * 2 // 15, 50),
            "supplier": max(orders // 150, 10)}


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def make_tables(out_dir, seed, orders):
    """Write region, nation, customer, supplier, part, orders and
    lineitem parquet files under `out_dir`; return their row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(orders)
    nc, npart, ns = n["customer"], n["part"], n["supplier"]
    ts = pa.timestamp("us")
    epoch = np.datetime64("1995-01-01", "D")
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(NATIONS), pa.int32()),
                   "n_name": [f"NATION_{k}" for k in range(NATIONS)],
                   "n_regionkey": pa.array([k % 5 for k in range(NATIONS)],
                                           pa.int32())},
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, NATIONS, nc), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc)},
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, NATIONS, ns), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns)},
        "part": {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart),
                                                  rng.choice(NOUN, npart))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PTYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": _cents(rng, 900, 2100, npart)},
        "orders": {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, orders),
            "o_orderstatus": rng.choice(STATUSES, orders),
            "o_totalprice": _cents(rng, 1000, 500000, orders),
            "o_orderdate": pa.array(
                (epoch + rng.integers(0, 2400, orders)).astype("datetime64[us]"),
                ts),
            "o_orderpriority": rng.choice(PRIORITIES, orders)},
    }
    lines = rng.integers(1, 8, orders)
    nl = int(lines.sum())
    lok = np.repeat(np.arange(orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(FLAGS, nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            (epoch + rng.integers(0, 2500, nl)).astype("datetime64[us]"), ts)}
    counts = {}
    for name, cols in tables.items():
        t = pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v))
                      for k, v in cols.items()})
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        counts[name] = t.num_rows
    return counts


# ----- query templates: (SPARQL, oracle SQL) from drawn constants -----

def _iri(prefix, key):
    return f"'{prefix}' || CAST({key} AS VARCHAR)"


def star(rng):
    st, pr = rng.choice(STATUSES), rng.choice(PRIORITIES)
    q = (P + f'SELECT ?o ?tp ?c WHERE {{ ?o :orderstatus "{st}" ; '
         f':orderpriority "{pr}" ; :totalprice ?tp ; :customer ?c }}')
    sql = (f"SELECT {_iri('urn:o:', 'o_orderkey')} AS o, o_totalprice AS tp, "
           f"{_iri('urn:c:', 'o_custkey')} AS c FROM orders "
           f"WHERE o_orderstatus = '{st}' AND o_orderpriority = '{pr}'")
    return q, sql


def linear(rng):
    nk = int(rng.integers(0, NATIONS))
    q = (P + "SELECT ?l ?q WHERE { ?l :order ?o . ?o :customer ?c . "
         f"?c :inNation <urn:n:{nk}> . ?l :quantity ?q }}")
    sql = ("SELECT 'urn:l:' || CAST(l_orderkey AS VARCHAR) || '-' || "
           "CAST(l_linenumber AS VARCHAR) AS l, l_quantity AS q "
           "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
           f"JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {nk}")
    return q, sql


def snowflake(rng):
    pr, rk = rng.choice(PRIORITIES), int(rng.integers(0, 5))
    q = (P + f'SELECT ?o ?c ?seg ?nn WHERE {{ ?o :orderpriority "{pr}" ; '
         ":customer ?c . ?c :mktsegment ?seg ; :inNation ?n . "
         f"?n :nname ?nn ; :inRegion <urn:r:{rk}> }}")
    sql = (f"SELECT {_iri('urn:o:', 'o_orderkey')} AS o, "
           f"{_iri('urn:c:', 'c_custkey')} AS c, c_mktsegment AS seg, "
           "n_name AS nn FROM orders JOIN customer ON o_custkey = c_custkey "
           "JOIN nation ON c_nationkey = n_nationkey "
           f"WHERE o_orderpriority = '{pr}' AND n_regionkey = {rk}")
    return q, sql


def complex_(rng):
    fl, st = rng.choice(FLAGS), rng.choice(STATUSES)
    q = (P + "SELECT ?nn (COUNT(?l) AS ?cnt) (SUM(?q) AS ?qty) WHERE { "
         f'?l :order ?o ; :quantity ?q ; :returnflag "{fl}" . '
         f'?o :customer ?c ; :orderstatus "{st}" . ?c :inNation ?n . '
         "?n :nname ?nn } GROUP BY ?nn ORDER BY DESC(?cnt) ?nn")
    sql = ("SELECT n_name AS nn, COUNT(*) AS cnt, SUM(l_quantity) AS qty "
           "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
           "JOIN customer ON o_custkey = c_custkey "
           "JOIN nation ON c_nationkey = n_nationkey "
           f"WHERE l_returnflag = '{fl}' AND o_orderstatus = '{st}' "
           "GROUP BY n_name")
    return q, sql


def _order_props(key):
    return (f"SELECT 'urn:p:customer' AS p, {_iri('urn:c:', 'o_custkey')} AS v "
            f"FROM orders WHERE o_orderkey = {key} UNION ALL "
            "SELECT 'urn:p:totalprice', CAST(o_totalprice AS VARCHAR) "
            f"FROM orders WHERE o_orderkey = {key} UNION ALL "
            "SELECT 'urn:p:orderstatus', o_orderstatus "
            f"FROM orders WHERE o_orderkey = {key} UNION ALL "
            "SELECT 'urn:p:orderdate', strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') "
            f"FROM orders WHERE o_orderkey = {key} UNION ALL "
            "SELECT 'urn:p:orderpriority', o_orderpriority "
            f"FROM orders WHERE o_orderkey = {key}")


def point(rng, orders):
    """`<urn:o:K> ?p ?v`; the entity is bound through Sparql.preBind."""
    key = int(rng.integers(0, orders))
    return ("SELECT ?p ?v WHERE { ?e ?p ?v }", f"urn:o:{key}",
            _order_props(key))


def hop(rng, orders):
    """order -> customer -> `?p ?v`, the order bound through preBind."""
    key = int(rng.integers(0, orders))
    c = f"(SELECT o_custkey FROM orders WHERE o_orderkey = {key})"
    cust = f"'urn:c:' || CAST({c} AS VARCHAR)"
    sql = (f"SELECT {cust} AS c, 'urn:p:cname' AS p, c_name AS v FROM customer "
           f"WHERE c_custkey = {c} UNION ALL SELECT {cust}, 'urn:p:acctbal', "
           f"CAST(c_acctbal AS VARCHAR) FROM customer WHERE c_custkey = {c} "
           f"UNION ALL SELECT {cust}, 'urn:p:mktsegment', c_mktsegment "
           f"FROM customer WHERE c_custkey = {c} UNION ALL SELECT {cust}, "
           f"'urn:p:inNation', 'urn:n:' || CAST(c_nationkey AS VARCHAR) "
           f"FROM customer WHERE c_custkey = {c}")
    return (P + "SELECT ?c ?p ?v WHERE { ?e :customer ?c . ?c ?p ?v }",
            f"urn:o:{key}", sql)


BGP = {"star": star, "linear": linear, "snowflake": snowflake,
       "complex": complex_}
LOOKUP = {"point": point, "hop": hop}

# the read-your-writes probe run after every append: it must count
# exactly the orders the benchmark has made queryable so far
RYW_QUERY = ("SELECT (COUNT(?o) AS ?n) WHERE { ?o <urn:p:orderstatus> ?st }")


def query_plan(seed, orders, lookup, n):
    """`n` queries drawn from `seed`: dicts with id, shape, query, bind
    (an IRI for ?e, or "") and sql. The four BGP shapes (or the two
    lookup shapes) rotate in a seeded order, so every window of the
    list holds each shape equally often."""
    rng = np.random.default_rng(seed)
    shapes = LOOKUP_SHAPES if lookup else BGP_SHAPES
    out = []
    for i in range(n):
        if i % len(shapes) == 0:
            order = list(rng.permutation(shapes))
        shape = order[i % len(shapes)]
        if lookup:
            q, bind, sql = LOOKUP[shape](rng, orders)
        else:
            (q, sql), bind = BGP[shape](rng), ""
        out.append({"id": f"q{i}", "shape": shape, "query": q,
                    "bind": bind, "sql": sql})
    return out


def every_template(seed, orders):
    """One query per shape: the smoke mode's coverage list."""
    bgp = query_plan(seed, orders, False, len(BGP_SHAPES))
    lk = query_plan(seed, orders, True, len(LOOKUP_SHAPES))
    for i, q in enumerate(lk):
        q["id"] = f"k{i}"
    return bgp + lk


def ingest_plan(seed, orders, appends):
    """Which order-key blocks the store is encoded from and which
    arrive later as appends: a seeded choice of `appends` disjoint
    contiguous blocks, appended in the drawn order; the rest is the
    base. Returns (append slices as (lo, hi) key ranges, orders in the
    base)."""
    rng = np.random.default_rng(seed)
    bounds = np.linspace(0, orders, ORDER_BLOCKS + 1).astype(int)
    picks = rng.choice(ORDER_BLOCKS, appends, replace=False)
    slices = [(int(bounds[b]), int(bounds[b + 1])) for b in picks]
    return slices, orders - sum(hi - lo for lo, hi in slices)
