"""logunifier_spark — a from-scratch PySpark-native log-unification engine.

Re-creates the computational semantics of suikast42/logunifier
(parse → normalize → enrich → route → aggregate) as a declarative
Spark DataFrame pipeline over multi-turn agent transcripts
(conv_id, turn_idx, role, text, tool, ts).

Architecture (Spark-first, NOT a port):
  - parsing      : per-executor-compiled grok bank, batch logfmt tokenizer
                   and RE2-gated timestamp layouts inside one Arrow UDF
  - normalize    : native pyspark.sql.functions column expressions
                   (level map, emoji markers, validate-and-fix defaults)
  - enrich       : broadcast join against a pattern→label lookup table
  - route        : deterministic salted label-hash partitioner, per-sink writes
  - aggregate    : native hash aggregates (per-sink counts, pattern histogram)

Reference semantics are cited per-module as /root/reference file:line.
"""

__version__ = "0.1.0"
