"""Column-function library: text analysis, Z-order layout keys,
multimodal binary-column plumbing. All JVM built-ins (no Python UDFs)
except where a Pandas UDF is explicitly the design (multimodal resize
and featurizers)."""
