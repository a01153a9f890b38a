"""sparql-interactive query templates and their independent DuckDB answers.

Each template is one SPARQL query shape from the S2RDF evaluation (star,
linear path, snowflake) or one operator family a notebook user reaches
for. Constants arrive through `Engine.select` bindings: a variable
`?_x` is replaced by the value bound to `x`, as gastrodon's variable
substitution does. `sql` restates the same question over the raw parquet
tables; `{x}` placeholders take the same values.
"""

PREFIX = "PREFIX gp: <urn:graft:p/>\n"

NATIONS = [f"NATION_{i}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

TEMPLATES = [
    {"name": "star", "ordered": False,
     "domains": {"seg": SEGMENTS, "nname": NATIONS,
                 "minbal": [0.0, 5000.0, 8000.0]},
     "sparql": """SELECT ?name ?bal WHERE {
  ?c gp:c_name ?name ; gp:c_acctbal ?bal ; gp:c_mktsegment ?_seg ;
     gp:c_nation_ref ?n . ?n gp:n_name ?_nname .
  FILTER(?bal > ?_minbal) }""",
     "sql": """SELECT c_name AS name, c_acctbal AS bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_mktsegment = {seg} AND n_name = {nname} AND c_acctbal > {minbal}"""},

    {"name": "path", "ordered": False,
     "domains": {"rname": REGIONS, "minprice": [490000.0, 495000.0]},
     "sparql": """SELECT ?okey ?cname WHERE {
  ?o gp:o_orderkey ?okey ; gp:o_cust_ref ?c ; gp:o_totalprice ?tp .
  ?c gp:c_name ?cname ; gp:c_nation_ref ?n . ?n gp:n_region_ref ?r .
  ?r gp:r_name ?_rname . FILTER(?tp > ?_minprice) }""",
     "sql": """SELECT o_orderkey AS okey, c_name AS cname
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = {rname} AND o_totalprice > {minprice}"""},

    {"name": "snowflake", "ordered": False,
     "domains": {"rname": REGIONS, "seg": SEGMENTS, "pr": PRIORITIES},
     "sparql": """SELECT ?nname (COUNT(?o) AS ?cnt) (SUM(?tp) AS ?total) WHERE {
  ?o gp:o_cust_ref ?c ; gp:o_totalprice ?tp ; gp:o_orderpriority ?_pr .
  ?c gp:c_nation_ref ?n ; gp:c_mktsegment ?_seg .
  ?n gp:n_name ?nname ; gp:n_region_ref ?r . ?r gp:r_name ?_rname }
GROUP BY ?nname""",
     "sql": """SELECT n_name AS nname, count(*) AS cnt, sum(o_totalprice) AS total
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_orderpriority = {pr} AND c_mktsegment = {seg} AND r_name = {rname}
  GROUP BY n_name"""},

    {"name": "optional", "ordered": False,
     "domains": {"nname": NATIONS},
     "sparql": """SELECT ?cname ?okey WHERE {
  ?c gp:c_name ?cname ; gp:c_nation_ref ?n . ?n gp:n_name ?_nname .
  OPTIONAL { ?o gp:o_cust_ref ?c ; gp:o_orderkey ?okey ; gp:o_totalprice ?tp .
             FILTER(?tp > 450000.0) } }""",
     "sql": """SELECT c_name AS cname, o.o_orderkey AS okey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
    ON o.o_custkey = c_custkey
  WHERE n_name = {nname}"""},

    {"name": "minus", "ordered": False,
     "domains": {"nname": NATIONS, "pr": PRIORITIES},
     "sparql": """SELECT ?cname WHERE {
  ?c gp:c_name ?cname ; gp:c_nation_ref ?n . ?n gp:n_name ?_nname .
  MINUS { ?o gp:o_cust_ref ?c ; gp:o_orderpriority ?_pr } }""",
     "sql": """SELECT c_name AS cname
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name = {nname} AND NOT EXISTS (SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = {pr})"""},

    {"name": "exists", "ordered": False,
     "domains": {"seg": SEGMENTS, "minprice": [495000.0, 498000.0]},
     "sparql": """SELECT ?cname ?bal WHERE {
  ?c gp:c_name ?cname ; gp:c_acctbal ?bal ; gp:c_mktsegment ?_seg .
  FILTER EXISTS { ?o gp:o_cust_ref ?c ; gp:o_totalprice ?tp .
                  FILTER(?tp > ?_minprice) } }""",
     "sql": """SELECT c_name AS cname, c_acctbal AS bal FROM customer
  WHERE c_mktsegment = {seg} AND EXISTS (SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_totalprice > {minprice})"""},

    {"name": "groupby_having", "ordered": False,
     "domains": {"rname": REGIONS},
     "sparql": """SELECT ?seg (COUNT(*) AS ?cnt) (AVG(?bal) AS ?avgbal) WHERE {
  ?c gp:c_mktsegment ?seg ; gp:c_acctbal ?bal ; gp:c_nation_ref ?n .
  ?n gp:n_region_ref ?r . ?r gp:r_name ?_rname }
GROUP BY ?seg HAVING (COUNT(*) > 590)""",
     "sql": """SELECT c_mktsegment AS seg, count(*) AS cnt, avg(c_acctbal) AS avgbal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = {rname} GROUP BY c_mktsegment HAVING count(*) > 590"""},

    {"name": "orderby_limit", "ordered": True,
     "domains": {"nname": NATIONS},
     "sparql": """SELECT ?cname ?bal WHERE {
  ?c gp:c_name ?cname ; gp:c_acctbal ?bal ; gp:c_nation_ref ?n .
  ?n gp:n_name ?_nname }
ORDER BY DESC(?bal) ?cname LIMIT 10""",
     "sql": """SELECT c_name AS cname, c_acctbal AS bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name = {nname} ORDER BY c_acctbal DESC, c_name LIMIT 10"""},

    {"name": "distinct", "ordered": False,
     "domains": {"seg": SEGMENTS, "nname": NATIONS},
     "sparql": """SELECT DISTINCT ?pr ?st WHERE {
  ?o gp:o_orderpriority ?pr ; gp:o_orderstatus ?st ; gp:o_cust_ref ?c .
  ?c gp:c_mktsegment ?_seg ; gp:c_nation_ref ?n . ?n gp:n_name ?_nname }""",
     "sql": """SELECT DISTINCT o_orderpriority AS pr, o_orderstatus AS st
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE c_mktsegment = {seg} AND n_name = {nname}"""},

    {"name": "subquery", "ordered": False,
     "domains": {"nname": NATIONS},
     "sparql": """SELECT ?cname ?cnt WHERE {
  ?c gp:c_name ?cname ; gp:c_nation_ref ?n . ?n gp:n_name ?_nname .
  { SELECT ?c (COUNT(?o) AS ?cnt) WHERE {
      ?o gp:o_cust_ref ?c ; gp:o_orderstatus "F" } GROUP BY ?c }
  FILTER(?cnt >= 6) }""",
     "sql": """SELECT c_name AS cname, cnt
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
        WHERE o_orderstatus = 'F' GROUP BY o_custkey) f ON f.o_custkey = c_custkey
  WHERE n_name = {nname} AND cnt >= 6"""},
]

# Engine.ask takes no bindings, so its constants are inlined into the text
# (each distinct text is its own parse-cache entry).
ASK_TEMPLATE = {
    "domains": {"seg": SEGMENTS, "nname": NATIONS, "minbal": [9900.0, 9990.0]},
    "sparql": """ASK {
  ?c gp:c_mktsegment "{seg}" ; gp:c_acctbal ?bal ; gp:c_nation_ref ?n .
  ?n gp:n_name "{nname}" . FILTER(?bal > {minbal}) }""",
    "sql": """SELECT count(*) > 0 AS ask
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_mktsegment = {seg} AND n_name = {nname} AND c_acctbal > {minbal}""",
}


def sql_for(instance):
    """The DuckDB restatement of one generated instance."""
    if instance["kind"] == "ask":
        t, params = ASK_TEMPLATE, instance["params"]
    else:
        t = next(x for x in TEMPLATES if x["name"] == instance["template"])
        params = instance["bindings"]
    lit = lambda v: "'" + v.replace("'", "''") + "'" if isinstance(v, str) else repr(v)
    return t["sql"].format(**{k: lit(v) for k, v in params.items()})
