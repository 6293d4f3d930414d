"""The numpy XXH64 matches Spark's xxhash64, so planted partitions match the
engine's ``pmod(xxhash64(key), P)``."""

import numpy as np
from pyspark.sql import functions as F

import gen
from pyspark_validator.session import get_spark
from xxh64 import pmod_partition, xxh64_fixed


def test_matches_spark_xxhash64_on_keys_and_refs():
    docs = gen.doc_id_bytes(np.array([0, 1, 999, 10_000, 123_456_789_012]))
    refs = gen.media_ref_bytes(
        np.array([1, 2, 3, 4], dtype=np.uint8), np.array([0, 7, 999, 9_000_000_001])
    )
    odd = np.frombuffer(b"abcdefghijklmnopqrstu", dtype=np.uint8)  # 8 + 8 + 4 + 1 bytes
    mats = [docs, refs, odd[None, :], odd[None, :13], odd[None, :3]]
    strings = [r.tobytes().decode() for m in mats for r in m]
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    rows = (
        spark.createDataFrame([(s,) for s in strings], "k string")
        .select("k", F.xxhash64("k").alias("h"),
                F.pmod(F.xxhash64(F.struct("k")), F.lit(16)).alias("p"))
        .collect()
    )
    got = np.concatenate([xxh64_fixed(m) for m in mats])
    assert [r.h for r in rows] == got.tolist()
    parts = np.concatenate([pmod_partition(m, 16) for m in mats])
    assert [r.p for r in rows] == parts.tolist()
