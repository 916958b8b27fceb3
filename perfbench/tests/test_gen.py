"""The seeded input generator: determinism, seed sensitivity, schema and
key invariants."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def sets(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    out = {}
    for name, factor, seed in (("a", 3, 5), ("b", 3, 5), ("c", 3, 6), ("d", 1, 5)):
        d = os.path.join(root, name)
        out[name] = (d, gen.generate(d, factor, seed))
    return out


def test_same_seed_same_digest(sets):
    assert sets["a"][1] == sets["b"][1]
    assert gen.dir_digest(sets["a"][0]) == sets["a"][1]


def test_other_seed_other_digest(sets):
    assert sets["a"][1] != sets["c"][1]


def test_schema_identical_to_fixture(sets):
    for name in gen.TABLES:
        want = pq.ParquetFile(os.path.join(gen.FIXTURE_DIR, f"{name}.parquet"))
        got = pq.ParquetFile(os.path.join(sets["a"][0], f"{name}.parquet"))
        assert got.schema.equals(want.schema), name  # parquet physical types
        assert got.schema_arrow.equals(want.schema_arrow, check_metadata=True), name


def test_replicas_scale_rows_and_keep_dimensions(sets):
    for name in gen.TABLES:
        want = pq.ParquetFile(os.path.join(gen.FIXTURE_DIR, f"{name}.parquet")).metadata.num_rows
        got = pq.ParquetFile(os.path.join(sets["a"][0], f"{name}.parquet")).metadata.num_rows
        assert got == (want if name in gen.FIXED else 3 * want), name


def test_keys_keep_residues_and_stay_below_int32(sets):
    fixture = pq.read_table(os.path.join(gen.FIXTURE_DIR, "lineitem.parquet"))
    got = pq.read_table(os.path.join(sets["a"][0], "lineitem.parquet"))
    for col in gen.KEYS["lineitem"]:
        assert pc.max(got.column(col)).as_py() < gen.KEY_LIMIT
        for m in (1 << 16, 3, 997):
            want = sorted(v % m for v in fixture.column(col).to_pylist())
            res = sorted(v % m for v in got.column(col).to_pylist())
            assert res == sorted(want * 3), (col, m)


def test_factor_one_keeps_fixture_rows(sets):
    for name in gen.TABLES:
        want = pq.read_table(os.path.join(gen.FIXTURE_DIR, f"{name}.parquet"))
        got = pq.read_table(os.path.join(sets["d"][0], f"{name}.parquet"))
        keys = [(f.name, "ascending") for f in want.schema if not pa.types.is_list(f.type)]
        assert got.sort_by(keys).equals(want.sort_by(keys)), name


def test_cache_hit_reverifies_digest(tmp_path):
    d1, dig1, t1 = gen.cached(str(tmp_path), 1, 9)
    d2, dig2, t2 = gen.cached(str(tmp_path), 1, 9)
    assert (d1, dig1) == (d2, dig2) and t1 > 0 and t2 == 0
    with open(os.path.join(d1, "region.parquet"), "ab") as f:
        f.write(b"x")
    d3, dig3, t3 = gen.cached(str(tmp_path), 1, 9)
    assert dig3 == dig1 and t3 > 0


def test_cache_keeps_only_the_newest_sets(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_KEEP", 2)
    dirs = [gen.cached(str(tmp_path), 1, seed)[0] for seed in (1, 2, 3)]
    assert sorted(os.listdir(tmp_path)) == sorted(os.path.basename(d) for d in dirs[1:])
