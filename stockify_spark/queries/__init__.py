"""Query definitions for the registry (stockify_spark/registry.py).

Each query lives in the domain module its name prefix picks; ``common``
holds the oracle fragments and helpers several modules share:

  basics      filter_ range_ topk_ sample_ setop_ subquery_ fn_ udf_
              distinct_ skyline_ analytics_ profile_ dq_
  aggregates  agg_ groupby_ basket_
  windows     window_ stocks_ events_
  joins       join_ merge_ geo_
  tpch        tpch_ orders_
  stats       stats_
  ml_graph    ml_ graph_
  text        text_ tokenizer_ lang_ doc_
  dedup       dedup_ pipeline_
  similarity  sim_
  txlog       txlog_ stream_
  media       media_
"""

# Importing any domain module first still loads the whole registry, in
# the order registry.py lists the domains: registration order stays
# fixed and no domain module sees another one half-imported.
import stockify_spark.registry  # noqa: E402,F401
