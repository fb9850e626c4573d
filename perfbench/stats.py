"""Summaries of measured samples, with the sample-count rule."""
import statistics

# The latency of a request class is refused (the run fails) when the
# window holds fewer samples of it than this.
MIN_CLASS_SAMPLES = 3


class TooFewSamples(ValueError):
    pass


def p50(values, min_n=1):
    if len(values) < min_n:
        raise TooFewSamples(f"need {min_n} samples, got {len(values)}")
    return statistics.median(values)


def interquartile_mean(values, min_n=1):
    """Mean of the middle half of the values: a quarter of them (at
    least one, from three values up) is dropped from each end."""
    if len(values) < min_n:
        raise TooFewSamples(f"need {min_n} samples, got {len(values)}")
    xs = sorted(values)
    k = max(1, len(xs) // 4) if len(xs) >= 3 else 0
    return statistics.mean(xs[k:len(xs) - k])


def mix_latency(by_class, shares, min_n=MIN_CLASS_SAMPLES):
    """Sum over classes of share x interquartile mean latency of the class.

    A window's read mix is multimodal: half its weight sits on the two
    fastest classes, so the median of all reads falls in the gap between
    latency modes and jumps across it from run to run, and the mean
    follows the few reads that queue behind a write. Per-class central
    values weighted by the declared shares are steady against both. A
    class holds 5-25 samples in a window; there the interquartile mean
    varies less from run to run than the median."""
    return sum(share * interquartile_mean(by_class.get(c, []), min_n)
               for c, share in shares.items())


def p50_or_zero(values):
    """p50 of a layer's samples, or 0 when the workload never entered it."""
    return statistics.median(values) if values else 0.0
