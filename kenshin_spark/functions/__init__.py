from kenshin_spark.functions.hashing import fnv1a_32, fnv1a_udf, shard_of

__all__ = [
    "fnv1a_32",
    "fnv1a_udf",
    "shard_of",
]
