import filecmp
from types import SimpleNamespace

import datagen
import numpy as np
import pyarrow.parquet as pq


def test_landing_dirt_is_what_the_cleaning_rule_drops(tmp_path):
    paths, expected, dirty = datagen.write_landing(str(tmp_path / "a"), 3, 1, 0.01)
    assert set(expected) == set(datagen.GENERATORS)
    # 1% nulled plus 1% copied, of each source's reference row count
    assert dirty == 2 * sum(max(1, round(n * 0.01)) for _, n in datagen.GENERATORS.values())
    assert sum(n_in - n_out for n_in, n_out in expected.values()) == dirty
    for name, (gen, n) in datagen.GENERATORS.items():
        n_in, _ = expected[name]
        assert n_in == n + max(1, round(n * 0.01))


def test_landing_depends_on_the_seed_only(tmp_path):
    a, _, _ = datagen.write_landing(str(tmp_path / "a"), 3, 1, 0.01)
    b, _, _ = datagen.write_landing(str(tmp_path / "b"), 3, 1, 0.01)
    c, _, _ = datagen.write_landing(str(tmp_path / "c"), 4, 1, 0.01)
    assert all(filecmp.cmp(a[k], b[k], shallow=False) for k in a)
    assert not filecmp.cmp(a["sales_csv"], c["sales_csv"], shallow=False)


def test_documents_near_duplicates_are_distinct_appends():
    docs = datagen._documents(np.random.default_rng(0), 2000).to_pydict()
    texts = docs["text"]
    assert len(set(texts)) == len(texts)
    dups = [t for t in texts if t.endswith(" dup")]
    assert 0.02 < len(dups) / len(texts) < 0.08
    assert all(t[: -len(" dup")] in set(texts) for t in dups)
    assert docs["n_chars"] == [len(t) for t in texts]


def test_tables_have_the_corpus_row_counts(tmp_path):
    datagen.write_tables(str(tmp_path), 42, 0.001)
    rows = {
        t: pq.ParquetFile(tmp_path / f"{t}.parquet").metadata.num_rows
        for t in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents")
    }
    assert rows == {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
                    "lineitem": 6000, "events": 1000, "documents": 500}


def _query_workload():
    from workloads import QueryWorkload

    w = QueryWorkload(None, "", 0, "")
    w.oracle = {"q": (["a"], [(1,), (2,)])}
    w.check_oracle = SimpleNamespace(norm_rows=lambda rows, cols: sorted(rows))
    return w


def _obs(n, h):
    return SimpleNamespace(get={"n": n, "h": h})


def test_a_query_that_differs_from_its_oracle_fails_every_op():
    w = _query_workload()
    assert w.check("q", _obs(2, 7), ["a"], [(2,), (3,)]) is not None
    assert w.check("q", _obs(2, 7), ["a"], None) is not None


def test_a_query_must_repeat_its_cold_pass_count_and_hash():
    w = _query_workload()
    assert w.check("q", _obs(2, 7), ["a"], [(2,), (1,)]) is None
    assert w.check("q", _obs(2, 7), ["a"], None) is None
    assert w.check("q", _obs(2, 8), ["a"], None) is not None
