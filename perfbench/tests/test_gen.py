import os

import pytest

import gen


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_writes_identical_files(tmp_path, workload):
    a = gen.generate(workload, 11, str(tmp_path / "a"))
    b = gen.generate(workload, 11, str(tmp_path / "b"))
    fa, fb = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert fa.keys() == fb.keys()
    # the manifest names its own directory; everything else is byte-equal
    assert {k: v for k, v in fa.items() if k != "manifest.json"} == {
        k: v for k, v in fb.items() if k != "manifest.json"
    }
    for name, t in a["tables"].items():
        assert (t["rows"], t["bytes"]) == (b["tables"][name]["rows"], b["tables"][name]["bytes"])
        assert t["rows"] > 0 and t["bytes"] > 0


def test_other_seed_writes_other_data(tmp_path):
    gen.generate("interactive_sql", 1, str(tmp_path / "a"))
    gen.generate("interactive_sql", 2, str(tmp_path / "b"))
    assert _files(tmp_path / "a")["sales.csv"] != _files(tmp_path / "b")["sales.csv"]


def test_planted_near_duplicates_clear_the_dedup_threshold(tmp_path):
    m = gen.generate("curation_ingest", 3, str(tmp_path))
    truth = m["truth"]
    assert len(truth["near_dup_ids"]) == gen.NEAR_COPIES
    assert len(truth["exact_dup_ids"]) == gen.EXACT_COPIES
    assert truth["min_near_jaccard"] >= 0.8
    assert truth["distinct_texts"] == gen.ORIGINAL_DOCS + gen.NEAR_COPIES
