from __future__ import annotations

import pandas as pd
import pytest

from wise_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="wise_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf() -> pd.DataFrame:
    """300-doc deterministic webtext corpus with a small vocab (dense df)."""
    import numpy as np

    from wise_spark.data.corpus import corpus_pandas

    return corpus_pandas(np.arange(300), seed=42, vocab_size=2000).reset_index(drop=True)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf[["doc_id", "url", "text", "lang"]])


@pytest.fixture(scope="session")
def segment_rows():
    """index_dir -> every segment row (wave, term, shard, varbyte payloads,
    block maxima, ...) as plain python values, in (term, shard) order: two
    indexes with equal lists hold byte-identical postings."""
    import os

    import pyarrow.dataset as ds

    def rows(index_dir: str) -> list[dict]:
        t = ds.dataset(os.path.join(index_dir, "segments"), format="parquet",
                       partitioning="hive").to_table()
        return sorted(t.to_pylist(), key=lambda r: (r["term"], r["shard"]))

    return rows
