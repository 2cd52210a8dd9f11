"""The array-native MinHash path equals the exploded one, as
dedup.signatures_from_arrays's docstring claims."""

import random

from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.operators import dedup as D


def test_signatures_from_arrays_equals_exploded_minhash(spark):
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 25))))
        for i in range(40)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    darr = D.doc_shingle_arrays(corpus)

    rowwise = D.signatures_from_arrays(darr, with_size=True)
    exploded = D.minhash_signatures(
        darr.select("doc_id", F.explode("arr").alias("tok")),
        tok_hashed=True,
        with_size=True,
    )
    cols = ["doc_id", "n_toks"] + [f"s{s}" for s in range(D.N_MINHASH)]
    got = sorted(rowwise.select(cols).collect())
    assert got == sorted(exploded.select(cols).collect())
    assert len(got) == len(docs)
    assert all(r.n_toks >= 1 for r in got)

    assert sorted(D.signature_bands(rowwise).collect()) == sorted(
        D.signature_bands(exploded).collect()
    )
