"""DataFrame-level operators: parse (Arrow UDF), normalize/validate/enrich/
route/aggregate (native Spark SQL expressions), plus the training-data
operators (dedup, similarity, text stats, multimodal plumbing)."""
