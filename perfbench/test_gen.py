"""Self-test of the input generator: determinism and planted properties.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 7)
    assert _digests(a.root) == _digests(b.root)
    assert (a.rows, a.bytes, a.planted) == (b.rows, b.bytes, b.planted)


def test_other_seed_other_bytes_same_properties(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 8)
    da, db = _digests(a.root), _digests(b.root)
    assert da.keys() == db.keys()
    # fixed dimension tables aside, every table's bytes change with the seed
    changed = {k for k in da if da[k] != db[k]}
    assert changed >= {f"{t}.parquet" for t in (
        "customer", "orders", "lineitem", "events", "features", "features_dirty",
        "documents", "embeddings")}
    assert a.rows == b.rows
    for inp in (a, b):
        p = inp.planted
        n_docs = inp.rows["documents"]
        # near-dup (variant) and junk shares
        n_variants = n_docs - p["doc_survivors"] - p["doc_junk"]
        assert abs(n_variants / n_docs - gen.VARIANT_SHARE) < 0.03
        assert abs(p["doc_junk"] / n_docs - gen.JUNK_SHARE) < 0.03
        assert p["stream_accepted"] == [gen.N_STREAM_NEW] * gen.N_STREAM_BATCHES
        # cluster count and nprobe / cells
        assert (p["clusters"], p["nprobe"]) == (gen.N_CLUSTERS, gen.NPROBE)
        labels = pq.read_table(inp.path("embeddings")).column("label").to_pylist()
        assert sorted(labels[: gen.N_CLUSTERS]) == list(range(gen.N_CLUSTERS))
        # every validator rule has planted violations
        assert all(20 <= v < 160 for v in p["validator"].values())
        # mover selectivity: segment A and f1 > 0
        share = p["mover_rows"] / inp.rows["features"]
        assert abs(share - gen.SEGMENT_A_SHARE / 2) < 0.02
    assert a.planted["validator"] != b.planted["validator"]


def test_groups_write_only_their_tables(tmp_path):
    inp = gen.generate(str(tmp_path / "f"), 3, ("features",))
    assert set(inp.rows) == {"features", "features_b", "features_dirty"}
    assert inp.planted["mover_rows"] > 0
