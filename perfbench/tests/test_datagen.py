"""Checks of the seeded corpus generator against its ledger, with the
DuckDB oracles only (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import pytest  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_corpus():
    a, led_a = datagen.make_documents(11, 100, 3)
    b, led_b = datagen.make_documents(11, 100, 3)
    assert a.equals(b) and led_a == led_b and led_a.kinds == led_b.kinds
    assert not a.equals(datagen.make_documents(12, 100, 3)[0])


def test_ledger_counts_its_kinds():
    _, led = datagen.make_documents(3, 200, 3)
    assert len(led.kinds) == led.n_docs == 600
    assert led.exact_copies == led.kinds.count("cross_exact") > 0
    assert led.near_copies == led.kinds.count("near") + led.kinds.count("cross_near")
    assert led.excerpts == led.kinds.count("excerpt") > 0
    assert led.patchworks == led.kinds.count("patchwork") > 0
    assert sum(led.quality.values()) == led.quality_per_replica * led.replicas


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_document_gets_the_verdict_its_kind_implies(tmp_path, seed):
    from maap_data_pipelines_spark.sources.catalog import TABLES

    table, ledger = datagen.make_documents(seed, 200, 2)
    datagen.write_table(table, str(tmp_path), "documents")
    datagen.write_placeholders(str(tmp_path), TABLES)
    inputs = workloads.Inputs(str(tmp_path), table.num_rows, 0, ledger=ledger)
    assert workloads.check_corpus(inputs, workloads.oracle_verdicts(inputs)) == []
