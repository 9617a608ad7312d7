import sys, re
sys.path.insert(0, "/root/repo")
from ps_pagerank_spark import get_spark
from pyspark.sql import functions as F

spark = get_spark(master="local[4]")
SF = "/root/testdata/sf0.01"

def audit(name, df):
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    ex = len(re.findall(r"Exchange", plan))
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    shj = len(re.findall(r"ShuffledHashJoin", plan))
    wsc = len(re.findall(r"WholeStageCodegen", plan))
    sorts = len(re.findall(r"\bSort\b", plan))
    sched = re.findall(r"ReadSchema: [^\n]*", plan)
    pushed = re.findall(r"PushedFilters: [^\n]*", plan)
    print(f"== {name}: Exchange={ex} BHJ={bhj} SMJ={smj} SHJ={shj} Sort={sorts} WSC={wsc}")
    for s in set(sched): print("   ", s[:120])
    for p in set(pushed):
        if "[]" not in p: print("   ", p[:120])
    return plan

# 1. edges build: lineitem scan should read only 4 columns
from ps_pagerank_spark.sources.edgelist import tpch_graph_edges
edges = tpch_graph_edges(spark, SF)
audit("edges_build", edges)

# 2. weighted coo
from ps_pagerank_spark.operators.graph import weighted_edges
audit("weighted_coo", weighted_edges(edges))

# 3. one pagerank gather-scatter iteration (co-partitioned shuffled-hash gather)
from ps_pagerank_spark.operators.pagerank import _gather_scatter_join
edgesP = weighted_edges(edges).repartition(8, "src_id").persist(); edgesP.count()
state = edges.select(F.col("src_id").alias("vertex_id")).distinct().select(
    "vertex_id", F.lit(False).alias("dangling"), F.lit(0.1).alias("rank")
).repartition(8, "vertex_id").localCheckpoint()
contribs = _gather_scatter_join(state, edgesP, None)
p = audit("gather_scatter_shuffle", contribs)
new_state = (state.select("vertex_id","dangling",F.col("rank").alias("_old"))
    .join(contribs, "vertex_id", "left"))
audit("iteration_update_join", new_state)

# 4. text features: documents scan should read only (doc_id, text)
from ps_pagerank_spark.functions.text import text_feature_columns
docs = spark.read.parquet(f"{SF}/documents.parquet")
feats = text_feature_columns(F.col("text"))
audit("text_features", docs.select("doc_id", *[v.alias(k) for k,v in feats.items()]))

# 5. link extraction: pages scan pruned to (url, html)
from ps_pagerank_spark.functions.extract import extract_links
from ps_pagerank_spark.sources.pages import pages_df_from_edges
pages = pages_df_from_edges(spark, 50, [(i, (i+1)%50) for i in range(50)])
pages.write.mode("overwrite").parquet("/tmp/pages_audit")
audit("link_extraction", extract_links(spark.read.parquet("/tmp/pages_audit")))

# 6. top-k: expect TakeOrderedAndProject, no global sort
from ps_pagerank_spark.operators.pagerank import top_k_ranks
ranks = state.select("vertex_id", "rank")
plan = ranks.orderBy(F.desc("rank")).limit(20)._jdf.queryExecution().explainString(
    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
print("== top_k has TakeOrderedAndProject:", "TakeOrderedAndProject" in plan)

# 7. filter pushdown check on a documents filter
audit("docs_filter_pushdown", docs.filter(F.col("lang")=="en").select("doc_id","lang"))
spark.stop()
