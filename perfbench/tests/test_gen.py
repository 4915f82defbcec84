"""Seeded generators: byte-identical per seed, and curate inputs that make
every stage of the export chain drop some but not all rows."""

import numpy as np
import pytest

import gen
import workloads


def test_vector_inputs_are_byte_identical_per_seed(tmp_path):
    digests = []
    for run, seed in enumerate((7, 7, 8)):
        ids, x, cats = gen.corpus(seed, 2000)
        out = tmp_path / f"c{run}"
        gen.write_table(gen.vectors_table(ids, x, cats), str(out), 3)
        digests.append(gen.tree_digest(str(out)))
    assert digests[0] == digests[1] != digests[2]


def test_mutate_batches_are_deterministic_and_valid():
    ids, _, _ = gen.corpus(3, 5000)
    a = gen.mutate_batch(3, 2, ids, 1000, 100)
    b = gen.mutate_batch(3, 2, ids, 1000, 100)
    assert a[0] == b[0] and a[3] == b[3]
    assert np.array_equal(a[1], b[1])
    up, x, _, dels = a
    assert len(up) == len(set(up)) == 1000 and x.shape == (1000, gen.DIM)
    assert sum(v in set(ids) for v in up) == 500
    assert not set(dels) & set(up) and set(dels) <= set(ids)


def test_documents_are_byte_identical_per_seed(tmp_path):
    d = [gen.write_documents(s, 600, str(tmp_path / f"sf{i}"))
         for i, s in enumerate((5, 5, 6))]
    digests = [gen.tree_digest(str(tmp_path / f"sf{i}")) for i in range(3)]
    assert digests[0] == digests[1] != digests[2]
    assert d[0] == d[1]


def test_documents_look_like_the_fixture():
    table, planted = gen.documents(11, 5000)
    n_chars = np.asarray(table.column("n_chars"))
    assert 250 < n_chars.mean() < 350
    assert set(table.column("lang").to_pylist()) == set(gen.LANGS)
    assert all(v > 0 for v in planted.values())


def test_stage_guards_flag_degenerate_stages():
    ok = {s: 100 - i for i, s in enumerate(workloads.STAGES)}
    assert workloads.stage_guards(ok, (5, 100)) == []
    flat = dict(ok, dd=ok["trained"])
    assert any("dd" in b for b in workloads.stage_guards(flat, (5, 100)))
    empty = dict(ok, mkept=0)
    assert any("mkept" in b for b in workloads.stage_guards(empty, (5, 100)))
    assert workloads.stage_guards(ok, (0, 100))
    assert workloads.stage_guards(ok, (100, 100))


@pytest.mark.parametrize("seed", [1, 2])
def test_planted_corpus_drops_rows_at_every_stage(tmp_path, seed):
    """The DuckDB twin of pretraining_export_e2e over the generated corpus:
    no stage is a no-op and none empties the corpus."""
    pytest.importorskip("duckdb")
    from vervectordb_spark.queries_pretrain import pretraining_export_e2e  # noqa: F401
    from vervectordb_spark.queries import ORACLES

    sf = str(tmp_path / "sf")
    gen.write_documents(seed, workloads.CURATE_DOCS, sf)
    result, stages, tokens = workloads.curate_twin(
        ORACLES["pretraining_export_e2e"], sf)
    assert workloads.stage_guards(stages, tokens) == []
    assert len(result) == len(gen.LANGS)
