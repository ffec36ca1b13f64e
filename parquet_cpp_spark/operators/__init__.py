"""Spark operators: Arrow-native (``mapInArrow``) encode/decode of column
chunks."""
