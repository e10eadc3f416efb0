"""Transcripts→knowledge-graph construction pipeline (the north-rule
generalization of the reference's tabular→RDF mapping).

Input: a table of multi-turn conversation / agent transcripts
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)`` (Iceberg in production; parquet in this sandbox).

Stages:
  1. ``mapping``   — turn/conv triples via the same CSVW-style mapping engine
                     (URI templates, virtual columns, datatype coercion)
  2. ``mentions``  — batched mention detection (broadcast alias dictionary,
                     vectorized pandas UDFs — no per-row Python)
  3. ``linking``   — entity-link scoring with MinHash-LSH blocking
  4. ``cc``        — entity canonicalization from the alias dictionary
                     (driver union-find, no Spark job); Spark connected
                     components for graphs that live in Spark
  5. ``pipeline``  — materialize (subj,pred,obj) triples + N-Triples lines to
                     partitioned tables, resumable from per-partition
                     checkpoints with lineage + metrics
"""
