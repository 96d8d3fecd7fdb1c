"""The tail-percentile rule: the highest ladder percentile that still
has at least ten samples beyond it."""

from stats import nearest_rank, summary, tail_percentile


def test_too_few_samples_have_no_tail():
    assert tail_percentile([float(i) for i in range(19)]) is None


def test_twenty_samples_give_the_median():
    vals = [float(i) for i in range(1, 21)]
    assert tail_percentile(vals) == (50.0, 10.0)


def test_tail_climbs_with_sample_count():
    assert tail_percentile([float(i) for i in range(40)])[0] == 75.0
    assert tail_percentile([float(i) for i in range(100)])[0] == 90.0
    assert tail_percentile([float(i) for i in range(199)])[0] == 90.0
    assert tail_percentile([float(i) for i in range(200)])[0] == 95.0
    assert tail_percentile([float(i) for i in range(1000)])[0] == 99.0


def test_ten_samples_beyond_the_reported_rank():
    vals = [float(i) for i in range(1, 101)]
    p, v = tail_percentile(vals)
    assert sum(1 for x in vals if x > v) >= 10
    assert v == nearest_rank(vals, p) == 90.0


def test_summary_reports_quartiles_and_n():
    s = summary([4.0, 1.0, 3.0, 2.0])
    assert s["n"] == 4 and s["p50"] == 2.5
    assert s["q1"] <= s["p50"] <= s["q3"]
    assert "tail" not in s
