"""The generators are pure functions of (seed, size)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402


def _inputs(root: Path, seed: int) -> list[Path]:
    inputs = gen.Inputs(root)
    return [
        inputs.events(seed, n_events=3000),
        inputs.transcripts(seed, n_convs=100, n_files=3),
        inputs.documents(seed, n_docs=300),
    ]


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir()) if p.suffix == ".parquet"}


def test_same_seed_same_bytes(tmp_path):
    for a, b in zip(_inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 7)):
        fa, fb = _files(a), _files(b)
        assert fa and fa == fb, a.name


def test_other_seed_other_bytes(tmp_path):
    for a, b in zip(_inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 8)):
        assert _files(a) != _files(b), a.name


def test_cache_reused(tmp_path):
    inputs = gen.Inputs(tmp_path)
    first = inputs.documents(1, n_docs=50)
    spent = inputs.gen_s
    assert inputs.documents(1, n_docs=50) == first
    assert inputs.gen_s == spent


def test_transcripts_turns_follow_ts():
    df = gen.gen_transcripts(3, n_convs=2000)
    sizes = gen.conversation_sizes(2000)
    assert len(df) == sizes.sum()
    assert sorted(df.groupby("conv_id").size()) == sorted(sizes)
    assert df["ts"].is_monotonic_increasing
    steps = df.groupby("conv_id")["turn_idx"].diff().dropna()
    assert (steps == 1).all()
    assert (df.groupby("conv_id")["turn_idx"].min() == 0).all()


def test_zipf_quantiles_match_the_zipf_law():
    q = gen.zipf_quantiles(100_000)
    assert (q[:-1] >= q[1:]).all()
    # P(X = 1) = 1 / zeta(1.2) = 0.1788: the smallest 17.9% are ones
    assert abs((q == 1).mean() - 0.1788) < 1e-3
    # in the tail, rank k sits near ((k - 0.5) / n * 0.2 * zeta)^-5
    assert abs(q[9] / (9.5 / 100_000 * 0.2 * 5.5916) ** -5 - 1) < 1e-3


def test_conversation_sizes_follow_f1():
    sizes = gen.conversation_sizes(20_000)
    assert sizes.min() == gen.MIN_TURNS and sizes.max() == gen.MAX_TURNS
    assert (sizes == gen.MIN_TURNS).mean() > 0.99


def test_events_users_uniform_like_sf01():
    ev = gen.gen_events(1, 30_000)["events"]
    counts = ev.user_id.value_counts()
    assert len(counts) == round(30_000 / gen.EVENTS_PER_USER)
    # uniform draws: per-user counts are Poisson, variance ~ mean
    assert 0.8 < counts.var() / counts.mean() < 1.25
