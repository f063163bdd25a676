"""The pinned-pair scaling runner's pure part: round merging, derived
rates and the scaling math, checked on fake per-level results (no JVM)."""

import pytest

import bench_scaling as bs

SIZE = 12_000


def _rounds(fam, cpus, scale):
    """Two fake per-level outputs of one level; round 2 is faster."""
    counts = {count: SIZE for count, _ in fam.rates.values()}
    return [{"cpus": cpus, **counts,
             **{f"{job}_sec": scale * factor * (i + 1) for i, job in enumerate(fam.jobs)}}
            for factor in (2.0, 1.0)]


@pytest.mark.parametrize("name", sorted(bs.FAMILIES))
def test_rates_and_scaling_come_from_merged_minima(name):
    fam = bs.FAMILIES[name]
    lows, highs = _rounds(fam, 1, 1.0), _rounds(fam, 4, 0.3)
    out = bs.summarize(name, SIZE, lows, highs, probe_lo=10.0, probe_hi=36.0)
    lo, hi = out["low"], out["high"]
    assert out[fam.size_key] == SIZE
    for level, rounds in ((lo, lows), (hi, highs)):
        for job in fam.jobs:
            assert level[job + "_sec"] == min(r[job + "_sec"] for r in rounds)
            assert level[job + "_sec"] == rounds[1][job + "_sec"]
        for key, (count, job) in fam.rates.items():
            assert level[key] == round(SIZE / level[job + "_sec"], 1)
    envelope = round(36.0 / 10.0 / bs.RATIO, 3)
    assert out["envelope"] == envelope
    for key, job in (fam.scaled or {j: j for j in fam.jobs}).items():
        speedup = lo[job + "_sec"] / hi[job + "_sec"]
        assert out[key] == {"speedup": round(speedup, 3),
                            "efficiency": round(speedup / 4, 3),
                            "normalized": round(speedup / 4 / envelope, 3)}


def test_e2e_total_is_the_merged_composition():
    lows, highs = _rounds(bs.E2E, 1, 1.0), _rounds(bs.E2E, 4, 0.3)
    out = bs.summarize("e2e", SIZE, lows, highs, 10.0, 36.0)
    for level in (out["low"], out["high"]):
        assert level["e2e_sec"] == level["cum_shards_sec"]
        assert level["docs_per_sec"] == round(SIZE / level["e2e_sec"], 1)
    assert out["stage_sec_low"]["bp"] == out["low"]["cum_bp_sec"]


@pytest.mark.parametrize("name", sorted(bs.FAMILIES))
def test_every_family_is_complete(name):
    fam = bs.FAMILIES[name]
    assert fam.jobs and fam.size > 0 and fam.repeats >= 1 and fam.rounds >= 1
    assert fam.size_key in ("pages_n", "docs_n", "rows_n")
    named = [job for _, job in fam.rates.values()] + list((fam.scaled or {}).values())
    assert set(named) <= set(fam.jobs)
    assert fam.warmup is None or fam.warmup in fam.jobs
