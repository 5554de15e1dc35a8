"""The generator is deterministic per seed and the seed only moves the
measured day, never the shared history."""

import dataclasses
import hashlib
import os

import gen

SPEC = gen.Spec(days=3, history=2, products_per_day=200, leaves_per_root=4, missing_fx_day=1)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_is_byte_identical(tmp_path):
    gen.generate(str(tmp_path / "a"), SPEC, 7)
    gen.generate(str(tmp_path / "b"), SPEC, 7)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a and a == b


def test_seed_changes_only_the_measured_day(tmp_path):
    gen.generate(str(tmp_path / "a"), SPEC, 7)
    gen.generate(str(tmp_path / "b"), SPEC, 8)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    changed = {k for k in a if a[k] != b[k]}
    measured = gen.day_str(SPEC.history)
    assert {k for k in changed if measured in k} == {k for k in a if measured in k}
    assert all(measured in k or k.startswith("fx") for k in changed)


def test_inputs_carry_the_dirty_shapes(tmp_path):
    spec = dataclasses.replace(SPEC, products_per_day=1000)
    truth = gen.generate(str(tmp_path), spec, 3)
    raw = "".join(open(gen.raw_path(str(tmp_path), ds) + "/part-0.json", encoding="utf-8").read()
                  for ds in truth.days)
    for needle in ("₫", "Đã bán", '"product_id": null', "Liên hệ", "?page=2", '"category_path": "'):
        assert needle in raw, needle
    csv = open(gen.trends_path(str(tmp_path), truth.days[0]), encoding="utf-8").read()
    assert "<1" in csv and ",," in csv
    assert truth.fx[truth.days[spec.missing_fx_day]] is None
    assert 0.5 < 1 - len(truth.mapping) / len(truth.leaves) < 0.7  # ~60% unmapped
    for ds in truth.days:  # re-crawls make raw rows outnumber kept products
        assert truth.raw_rows[ds] > len(truth.kept[ds])
