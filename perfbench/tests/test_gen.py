"""Seeded inputs: one seed always gives the same inputs, another seed
different ones."""

import gen

SF = 0.0001  # every table at its minimum size


def test_tables_same_seed_same_inputs(tmp_path):
    rows_a = gen.make_tables(tmp_path / "a", 7, SF)
    rows_b = gen.make_tables(tmp_path / "b", 7, SF)
    assert rows_a == rows_b
    assert gen.fingerprint(tmp_path / "a") == gen.fingerprint(tmp_path / "b")


def test_tables_other_seed_other_inputs(tmp_path):
    gen.make_tables(tmp_path / "a", 7, SF)
    gen.make_tables(tmp_path / "b", 8, SF)
    assert gen.fingerprint(tmp_path / "a") != gen.fingerprint(tmp_path / "b")


def test_lineitem_keys_are_unique(tmp_path):
    import pyarrow.parquet as pq

    gen.make_tables(tmp_path, 7, 0.001)
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pydict()
    keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
    assert len(set(keys)) == len(keys)
    assert min(li["l_linenumber"]) == 1


def test_project_same_seed_same_inputs(tmp_path):
    # the project names its own root in sources.yml; the fingerprint masks it
    counts_a = gen.make_project(tmp_path / "a", 7, SF)
    counts_b = gen.make_project(tmp_path / "b", 7, SF)
    assert counts_a == counts_b
    assert gen.fingerprint(tmp_path / "a") == gen.fingerprint(tmp_path / "b")


def test_project_other_seed_other_inputs(tmp_path):
    gen.make_project(tmp_path / "a", 7, SF)
    gen.make_project(tmp_path / "b", 8, SF)
    assert gen.fingerprint(tmp_path / "a") != gen.fingerprint(tmp_path / "b")


def test_use_batch_publishes_the_batch(tmp_path):
    counts = gen.make_project(tmp_path, 7, SF)
    gen.use_batch(tmp_path, "v0")
    gen.use_batch(tmp_path, "v1")
    for src in gen.SOURCES:
        published = sorted(p.name for p in (tmp_path / "sources" / src).iterdir())
        batch = sorted(p.name for p in (tmp_path / "batches" / "v1" / src).iterdir())
        assert published == [f"v1-{name}" for name in batch]
    assert counts["v1.src_orders"] > counts["v0.src_orders"]


def test_query_order_is_seeded():
    names = [f"q{i}" for i in range(21)]
    assert gen.query_order(names, 7, 1) == gen.query_order(names, 7, 1)
    assert sorted(gen.query_order(names, 7, 1)) == sorted(names)
    assert gen.query_order(names, 7, 1) != gen.query_order(names, 8, 1)
    assert gen.query_order(names, 7, 1) != gen.query_order(names, 7, 2)
