"""Generator determinism: one seed, byte-identical inputs."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _make(root: str, seed: int) -> str:
    tree = gen.raw_tree(os.path.join(root, "raw"), seed, (1, 1))
    gen.land_hour(tree, seed, 0)
    gen.warehouse(os.path.join(root, "wh"), seed, n_orders=500)
    gen.corpus(os.path.join(root, "corpus"), seed, n_docs=200, n_heldout=20)
    return gen.tree_digest(root)


def test_same_seed_same_bytes(tmp_path):
    assert _make(str(tmp_path / "a"), 7) == _make(str(tmp_path / "b"), 7)


def test_other_seed_other_bytes(tmp_path):
    assert _make(str(tmp_path / "a"), 7) != _make(str(tmp_path / "b"), 8)


def test_reference_samples_match_files(tmp_path):
    tree = gen.raw_tree(str(tmp_path / "raw"), 3, (1, 1), streams=("Encoder", "AmplifierData"))
    n_csv = 0
    for p in tree.files:
        if p.endswith(".csv"):
            with open(p) as fh:
                n_csv += sum(1 for _ in fh) - 1  # header
    enc = sum(len(tree.samples[(d, "Encoder")]["time_ms"]) for d in ("Patch1", "Patch2"))
    assert n_csv == enc
    amp = tree.samples[("Probe", "AmplifierData")]
    n_bin = sum(os.path.getsize(p) for p in tree.files if p.endswith(".bin")) // 8
    assert n_bin == len(amp["time_ms"])
    first = sorted(p for p in tree.files if "Patch1" in p)[0]
    with open(first) as fh:
        fh.readline()
        t, angle, _ = fh.readline().strip().split(",")
    s = tree.samples[("Patch1", "Encoder")]
    assert float(t) * 1000 - gen.HARP_OFFSET_MS == s["time_ms"][0]
    assert angle == f"{s['angle'][0] // 1000}.{s['angle'][0] % 1000:03d}"


def test_corpus_rates_are_stated(tmp_path):
    c = gen.corpus(str(tmp_path / "c"), 1, n_docs=400, n_heldout=20)
    texts = [t for _i, t, _s in c.docs]
    exact = len(texts) - len(set(texts))
    assert 0 < exact < 0.2 * len(texts)
    assert set(c.rates) == {"exact", "near", "junk", "contaminated"}
