"""finance_sc_relations_spark — a PySpark-native supply-chain knowledge-graph
construction engine.

A from-scratch reimplementation of the capabilities of
iSemantics-ai/Finance-SC-Relations (reference at /root/reference, cited by
file:line in docstrings) as staged Spark DataFrame transforms:

    pages (url, warc_ts, html, text, lang)
      -> clean (byte-identical rm_special_char invariant)
      -> sentence segmentation
      -> company-mention detection + alias grouping
      -> pair generation + [E1]/[E2] tagging
      -> supply-chain sentence gate
      -> relation classification (supplier/customer/other, reverse ensemble)
      -> entity linking + corpus-level canonicalization
      -> graph materialize (edge/vertex tables) with lineage + resume

LLM-assisted relabel verification (operators/llm_verify.py) is a
stand-alone operator over annotated rows, not a stage of this DAG.

All heavy per-row work runs through Arrow-vectorized pandas UDFs
(mapInPandas / applyInPandas); relational logic stays in Catalyst-planned
DataFrame expressions.
"""

__version__ = "0.1.0"
