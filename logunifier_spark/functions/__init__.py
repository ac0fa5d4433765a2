"""Scalar-function layer: grok bank, logfmt decoder, multi-layout ts parser,
level/pattern lookup tables. Pure Python — imported inside Arrow UDFs on
executors (compile-once-per-worker) and by tests."""
