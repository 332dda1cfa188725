"""Bigram-LM queries on a corpus with an empty and a one-word document.

Neither document has a bigram. The oracles extract bigrams with
``generate_series(1, len(t) - 1)``, which is empty for them; the engine
must agree, whichever consumer builds the shared bigram model."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.registry import all_specs
from presto_cached_examples_spark.sources.catalog import TABLES, table_path
from tests.conftest import SF_TINY
from tests.util import assert_frames_match


@pytest.fixture(scope="module")
def short_docs_dir(tmp_path_factory):
    sf_dir = str(tmp_path_factory.mktemp("short_docs"))
    for t in TABLES:
        shutil.copy(table_path(SF_TINY, t), table_path(sf_dir, t))
    docs = pq.read_table(table_path(SF_TINY, "documents"))
    top = max(docs.column("doc_id").to_pylist())
    extra = pa.Table.from_pylist(
        [
            {"doc_id": top + 1, "text": "", "lang": "en", "source": "src0", "n_chars": 0},
            {"doc_id": top + 2, "text": "spark", "lang": "en", "source": "src1", "n_chars": 5},
        ],
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), table_path(sf_dir, "documents"))
    return sf_dir


@pytest.fixture(scope="module")
def duck_short(short_docs_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(short_docs_dir, t)}'")
    yield con
    con.close()


def _match(spark, duck, sf_dir, name):
    spec = all_specs()[name]
    assert_frames_match(spec.fn(spark, sf_dir), duck.sql(spec.oracle), context=name)


def test_kn_bigram_cold_matches_oracle_and_warm_build(spark, duck_short, short_docs_dir):
    """The direct corpus extraction (cold q_text_kn_bigram) and the
    doc-grain rollup (q_quality_ppl_filter warming the model) must give
    the same model on short documents."""
    kn = all_specs()["q_text_kn_bigram"].fn
    _match(spark, duck_short, short_docs_dir, "q_text_kn_bigram")
    cold = kn(spark, short_docs_dir).collect()

    artifacts.forget(spark, short_docs_dir, "bigram_counts")
    artifacts.forget(spark, short_docs_dir, "surprisal")
    _match(spark, duck_short, short_docs_dir, "q_quality_ppl_filter")
    warmed = kn(spark, short_docs_dir).collect()
    assert cold, "kn_bigram returned no rows"
    assert cold == warmed


@pytest.mark.parametrize("name", ["q_text_bigram_lm", "q_quality_ppl_filter"])
def test_bigram_consumers_match_oracle(spark, duck_short, short_docs_dir, name):
    _match(spark, duck_short, short_docs_dir, name)
