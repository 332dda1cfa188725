"""Set operators (SURVEY.md §2.B: q_union_*, q_intersect, q_except).

Scale posture: UNION ALL is a zero-shuffle concatenation of scans;
the distinct variants shuffle once on the full row. INTERSECT/EXCEPT
compile to semi/anti joins on all columns — they inherit the join
engine's broadcast/AQE behavior.
"""

from presto_cached_examples_spark.registry import register_sql


register_sql(
    "q_union_all",
    category="setop",
    oracle="""
    SELECT o_orderkey, o_custkey, 'urgent' AS slice
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_custkey, 'big' AS slice
    FROM orders WHERE o_totalprice > 350000
    """,
)


register_sql(
    "q_union_distinct",
    category="setop",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_orderkey, o_custkey
    FROM orders WHERE o_totalprice > 350000
    """,
)


register_sql(
    "q_intersect",
    category="setop",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)


register_sql(
    "q_except",
    category="setop",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)


register_sql(
    "q_intersect_all",
    category="setop",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    """,
)


register_sql(
    "q_except_all",
    category="setop",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    """,
)
