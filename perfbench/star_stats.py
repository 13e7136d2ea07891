"""Prints the statistics that decide the star_queries workload's cost for a
directory of star-schema parquet files: table sizes, key, date and value
distributions, duplicate rates, and the output row count of each bench query
(its DuckDB oracle SQL from the QueryDef sources). NOTES.md compares the
generated data with the sf0.1 corpus this way. Needs the duckdb module.

    java -cp "$(python3 perfbench/build.py)" perfbench.WriteStar /tmp/star
    python3 perfbench/star_stats.py /tmp/star
"""

import glob
import os
import re
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
QUERIES = ["q1_pricing_summary", "a6_revenue_by_nation", "j7_large_equi",
           "q3_shipping_priority", "q5_local_supplier", "q8_market_share",
           "w3_moving_avg", "t4_tumbling_hour", "t4_session", "x4_cosine_topk",
           "d_minhash_pipeline"]
STATS = [
    ("rows lineitem/orders/customer/part/supplier/events/documents/embeddings",
     "select (select count(*) from lineitem), (select count(*) from orders),"
     " (select count(*) from customer), (select count(*) from part),"
     " (select count(*) from supplier), (select count(*) from events),"
     " (select count(*) from documents), (select count(*) from embeddings)"),
    ("lines per order: mean, max; orders without a line",
     "select round(avg(n), 3), max(n), (select count(*) from orders) - count(*)"
     " from (select l_orderkey, count(*) n from lineitem group by 1)"),
    ("l_linenumber min, max, mean",
     "select min(l_linenumber), max(l_linenumber), round(avg(l_linenumber), 3) from lineitem"),
    ("l_shipdate range", "select min(l_shipdate)::date, max(l_shipdate)::date from lineitem"),
    ("o_orderdate range", "select min(o_orderdate)::date, max(o_orderdate)::date from orders"),
    ("share l_shipdate <= 1998-09-02 (q1)",
     "select round(avg((l_shipdate <= TIMESTAMP '1998-09-02')::int), 4) from lineitem"),
    ("share o_orderdate < 1995-03-15 (q3)",
     "select round(avg((o_orderdate < TIMESTAMP '1995-03-15')::int), 4) from orders"),
    ("share o_orderdate in 1996 (q5)",
     "select round(avg((year(o_orderdate) = 1996)::int), 4) from orders"),
    ("returnflag x linestatus groups",
     "select count(*) from (select distinct l_returnflag, l_linestatus from lineitem)"),
    ("share c_mktsegment = BUILDING",
     "select round(avg((c_mktsegment = 'BUILDING')::int), 4) from customer"),
    ("c_acctbal range", "select min(c_acctbal), max(c_acctbal) from customer"),
    ("p_retailprice range; distinct p_name, p_type",
     "select min(p_retailprice), max(p_retailprice), count(distinct p_name),"
     " count(distinct p_type) from part"),
    ("orders per customer p10, p50, p90, max",
     "select quantile_disc(n, [0.1, 0.5, 0.9, 1]) from"
     " (select o_custkey, count(*) n from orders group by 1)"),
    ("events: users; events per user p50",
     "select count(*), median(n) from (select user_id, count(*) n from events group by 1)"),
    ("event value mean, p50, p90",
     "select round(avg(value), 2), round(median(value), 2),"
     " round(quantile_cont(value, 0.9), 2) from events"),
    ("event_id follows ts",
     "select bool_and(event_id = rn) from (select event_id,"
     " row_number() over (order by ts, event_id) - 1 rn from events)"),
    ("document tokens p0, p25, p50, p75, p100",
     "select quantile_disc(len(string_split(text, ' ')), [0, 0.25, 0.5, 0.75, 1]) from documents"),
    ("near-duplicate documents; exact-copy pairs",
     "select (select count(*) from documents where text like '% dup%'),"
     " (select count(*) from documents a, documents b"
     "  where a.text = b.text and a.doc_id < b.doc_id)"),
    ("share lang = en", "select round(avg((lang = 'en')::int), 4) from documents"),
    ("embedding dimension; mean norm",
     "select min(len(embedding)),"
     " round(avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))), 4) from embeddings"),
    ("mean cosine, same label / other label (first 300)",
     "select round(avg(list_cosine_similarity(a.embedding, b.embedding))"
     "   filter (where a.label = b.label), 4),"
     " round(avg(list_cosine_similarity(a.embedding, b.embedding))"
     "   filter (where a.label <> b.label), 4)"
     " from embeddings a, embeddings b"
     " where a.vec_id < b.vec_id and a.vec_id < 300 and b.vec_id < 300"),
]


def oracle_sql(name, src):
    """The oracle SQL of query `name` in the QueryDef sources."""
    m = re.search(r'Some\("""(.*?)"""\)', src[src.index('"%s"' % name):], re.S)
    return m.group(1)


def main():
    d = sys.argv[1]
    c = duckdb.connect()
    c.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        c.execute("create view %s as select * from '%s'" % (t, os.path.join(d, t + ".parquet")))
    for label, sql in STATS:
        print("%-72s %s" % (label, c.execute(sql).fetchall()[0]))
    src = "".join(open(f).read() for f in glob.glob(
        os.path.join(ROOT, "src", "main", "scala", "graft", "queries", "*.scala")))
    for name in QUERIES:
        n = c.execute("select count(*) from (%s)" % oracle_sql(name, src)).fetchone()[0]
        print("%-72s %s" % ("output rows " + name, n))


if __name__ == "__main__":
    main()
