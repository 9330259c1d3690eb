import os

from perfbench.gen import TreeSpec, generate_tree, parquet_files

SPEC = TreeSpec(n_rows=20_000, n_files=6)


def _bytes(root):
    return {os.path.relpath(p, root): open(p, "rb").read() for p in parquet_files(root)}


def test_same_seed_same_bytes(tmp_path):
    a = generate_tree(str(tmp_path / "a"), 7, SPEC)
    b = generate_tree(str(tmp_path / "b"), 7, SPEC)
    assert a == b
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")


def test_other_seed_other_bytes(tmp_path):
    generate_tree(str(tmp_path / "a"), 7, SPEC)
    generate_tree(str(tmp_path / "b"), 8, SPEC)
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "b")


def test_tree_shape(tmp_path):
    import pyarrow.parquet as pq

    summary = generate_tree(str(tmp_path), 3, SPEC)
    files = parquet_files(str(tmp_path))
    assert len(files) == SPEC.n_files
    assert len({os.path.dirname(f) for f in files}) > 1  # nested, not flat
    schemas = {tuple(pq.read_schema(f).names) for f in files}
    assert len(schemas) == 2  # the two variants
    assert sum(pq.read_metadata(f).num_rows for f in files) == SPEC.n_rows
    assert summary["dup_rows"] == sum(int(n * SPEC.dup_frac) for n in [SPEC.n_rows // SPEC.n_files] * SPEC.n_files)
