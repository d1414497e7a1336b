"""The chat workload's question bank.

Each question carries the SQL the stub LLM answers with (DuckDB runs the
same text to compute the expected answer), a column whose misspelling
makes the bad-SQL variant, and a wrong-shape variant that trips the
agent's type retry.
"""

QUESTIONS = [
    dict(id="n_customers", type="number", typo="c_custkey",
         text="How many customers do we have?",
         sql="SELECT COUNT(c_custkey) AS n FROM customer",
         shape="SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment"),
    dict(id="net_revenue", type="number", typo="l_discount",
         text="What is the total net revenue over all line items?",
         sql="SELECT SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem",
         shape="SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
               "FROM lineitem GROUP BY l_returnflag"),
    dict(id="nation7_suppliers", type="number", typo="s_nationkey",
         text="How many suppliers are based in NATION_7?",
         sql="SELECT COUNT(*) AS n FROM supplier JOIN nation "
             "ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'",
         shape="SELECT n_name, COUNT(*) AS n FROM supplier JOIN nation "
               "ON s_nationkey = n_nationkey GROUP BY n_name"),
    dict(id="top_nation", type="string", typo="nation_n_name",
         text="Which nation brings the most net revenue?",
         sql="SELECT nation_n_name FROM sales GROUP BY nation_n_name "
             "ORDER BY SUM(lineitem_l_extendedprice * (1 - lineitem_l_discount)) DESC, "
             "nation_n_name LIMIT 1",
         shape="SELECT nation_n_name FROM sales GROUP BY nation_n_name "
               "ORDER BY nation_n_name LIMIT 3"),
    dict(id="top_event", type="string", typo="event_type",
         text="What is the most frequent event type?",
         sql="SELECT event_type FROM events GROUP BY event_type "
             "ORDER BY COUNT(*) DESC, event_type LIMIT 1",
         shape="SELECT event_type FROM events GROUP BY event_type ORDER BY event_type"),
    dict(id="top_region", type="string", typo="r_name",
         text="Which region has the most customers?",
         sql="SELECT r_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
             "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name "
             "ORDER BY COUNT(*) DESC, r_name LIMIT 1",
         shape="SELECT r_name FROM region ORDER BY r_name"),
    dict(id="revenue_by_nation", type="dataframe", typo="lineitem_l_discount",
         text="Show the ten nations with the most net revenue.",
         sql="SELECT nation_n_name, "
             "SUM(lineitem_l_extendedprice * (1 - lineitem_l_discount)) AS revenue "
             "FROM sales GROUP BY nation_n_name ORDER BY revenue DESC, nation_n_name LIMIT 10",
         shape="SELECT COUNT(DISTINCT nation_n_name) AS n FROM sales"),
    dict(id="segment_balance", type="dataframe", typo="c_acctbal",
         text="Average clipped account balance and customer count per segment?",
         sql="SELECT c_mktsegment, AVG(c_acctbal) AS avg_balance, COUNT(*) AS n "
             "FROM customer_segments GROUP BY c_mktsegment ORDER BY c_mktsegment",
         shape="SELECT AVG(c_acctbal) AS avg_balance FROM customer_segments"),
    dict(id="qty_by_flag", type="dataframe", typo="l_quantity",
         text="Total quantity per return flag?",
         sql="SELECT l_returnflag, SUM(l_quantity) AS qty FROM lineitem "
             "GROUP BY l_returnflag ORDER BY l_returnflag",
         shape="SELECT SUM(l_quantity) AS qty FROM lineitem"),
    dict(id="urgent_by_segment", type="dataframe", typo="orders_o_orderpriority",
         text="How many urgent line items does each market segment have?",
         sql="SELECT customer_c_mktsegment, COUNT(*) AS n_items FROM sales "
             "WHERE orders_o_orderpriority = '1-URGENT' "
             "GROUP BY customer_c_mktsegment ORDER BY customer_c_mktsegment",
         shape="SELECT COUNT(*) AS n_items FROM sales WHERE orders_o_orderpriority = '1-URGENT'"),
    dict(id="orders_by_priority", type="plot", typo="o_orderpriority",
         text="Plot the number of orders per priority.",
         sql="SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders "
             "GROUP BY o_orderpriority ORDER BY o_orderpriority",
         shape="SELECT COUNT(*) AS n_orders FROM orders"),
    dict(id="price_by_size", type="plot", typo="p_retailprice",
         text="Chart the average retail price by part size.",
         sql="SELECT p_size, AVG(p_retailprice) AS avg_price FROM part "
             "GROUP BY p_size ORDER BY p_size",
         shape="SELECT AVG(p_retailprice) AS avg_price FROM part"),
]

BY_ID = {q["id"]: q for q in QUESTIONS}

# warm-up turns, run once before the timed loop: a number, and a frame
# from the view
WARMUP = [0, 6]

TRAINING = [
    ("How many orders are there?", "SELECT COUNT(*) AS n FROM orders"),
    ("Total quantity shipped?", "SELECT SUM(l_quantity) AS qty FROM lineitem"),
    ("Customers per nation?",
     "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation "
     "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),
    ("Average order value?", "SELECT AVG(o_totalprice) AS avg_value FROM orders"),
]
DOCS = [
    "Net revenue is extended price times one minus the discount.",
    "The sales view joins line items to orders, customers and nations.",
]

# DuckDB definitions of the two semantic-layer datasets the agent sees
# beside the base tables
DUCK_VIEWS = {
    "sales": """
        SELECT l.l_orderkey AS lineitem_l_orderkey,
               l.l_quantity AS lineitem_l_quantity,
               l.l_extendedprice AS lineitem_l_extendedprice,
               l.l_discount AS lineitem_l_discount,
               l.l_returnflag AS lineitem_l_returnflag,
               o.o_orderpriority AS orders_o_orderpriority,
               c.c_mktsegment AS customer_c_mktsegment,
               n.n_name AS nation_n_name
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    "customer_segments": """
        SELECT c_custkey, c_name, c_nationkey, lower(c_mktsegment) AS c_mktsegment,
               least(greatest(c_acctbal, 0.0), 5000.0) AS c_acctbal
        FROM customer""",
}


def turn(q, tid, mode):
    """One turn of the plan. `mode` is ok, sql (bad SQL first, one
    correction retry) or type (wrong shape first, one type retry)."""
    first = {"ok": q["sql"],
             "sql": q["sql"].replace(q["typo"], q["typo"] + "_typo", 1),
             "type": q["shape"]}[mode]
    replies = [first] if mode == "ok" else [first, q["sql"]]
    return {"id": tid, "bank": q["id"], "mode": mode, "type": q["type"],
            "question": f"[{tid}] {q['text']}", "replies": replies}
