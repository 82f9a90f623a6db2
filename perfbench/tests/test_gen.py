"""The input generators are pure functions of the seed: one seed gives
byte-identical files, another seed gives different ones.

    python -m pytest perfbench/tests
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench import gen  # noqa: E402

GENERATORS = {
    "commands": lambda seed, d: gen.write_commands(seed, d, 500, 3, 50,
                                                   0.05),
    "events": lambda seed, d: gen.write_events(seed, d, 2000, 3),
    "tables": lambda seed, d: gen.write_batch_tables(seed, d, 200, 60),
}


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    write = GENERATORS[kind]
    a, b, c = (str(tmp_path / n) for n in "abc")
    write(7, a)
    write(7, b)
    write(8, c)
    first, again, other = _files(a), _files(b), _files(c)
    assert first and first == again
    assert set(other) == set(first)
    assert all(other[n] != first[n] for n in first)


def test_keys_are_zipf_skewed():
    import numpy as np

    keys = gen.zipf_keys(np.random.default_rng(1), 20_000, 1000)
    counts = np.bincount(keys, minlength=1000)
    assert counts.max() > 20 * np.median(counts)


def test_rejected_share(tmp_path):
    import pyarrow.parquet as pq

    gen.write_commands(3, str(tmp_path), 20_000, 2, 100, 0.05)
    t = pq.read_table(str(tmp_path)).to_pydict()
    rejected = sum(1 for c, v in zip(t["_command"], t["value"])
                   if c == "put" and v < 0)
    assert 0.04 < rejected / 20_000 < 0.06
