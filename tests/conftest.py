import shutil
import tempfile

import pytest

from kartograph_spark import synth
from kartograph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="kartograph-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir():
    d = tempfile.mkdtemp(prefix="kg-corpus-")
    synth.write_corpus(d, n_conv=60, mean_turns=10, n_long=2, long_turns=120)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def transcripts_pdf(corpus_dir):
    import pandas as pd

    return pd.read_parquet(f"{corpus_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def transcripts_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def alias_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/alias_dictionary.parquet")


@pytest.fixture(scope="session")
def pipeline_out(spark, transcripts_df, alias_df):
    """One run_pipeline over the corpus: (output dir, metrics)."""
    from kartograph_spark.config import PipelineConfig
    from kartograph_spark.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="kg-out-")
    metrics = run_pipeline(spark, transcripts_df, alias_df, out, PipelineConfig(n_buckets=8))
    yield out, metrics
    shutil.rmtree(out, ignore_errors=True)
