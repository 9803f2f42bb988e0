"""Substring-containment theta join (SURVEY §2 J9) with an ENFORCED
probe-side bound.

The reference's shape (peptides_annotate_variation.py:171-190) probes
each peptide against candidate protein sequences; re-expressed
Spark-first this is a BroadcastNestedLoopJoin: the probe set is
broadcast and every left row is scanned against it with a JVM-side
``instr`` predicate. That plan is CORRECT exactly as long as the probe
side is genuinely small — SURVEY's own "keep right side small"
contract — because a non-equi predicate gives Catalyst only two
physical strategies:

- BroadcastNestedLoopJoin: per-row work is O(|left| x |probes|)
  substring scans, and the broadcast must fit in every executor AND
  the driver (~2x while building). Measured
  (NOTES_ROUND8, sf0.1, local[32]): corpus
  8x -> ~flat wall (the corpus streams; idle cores absorb it until
  they saturate, then it goes linear), probes 8x -> ~7x wall (5.8 s
  -> 40.6 s — the probe count multiplies EVERY left row's work, so
  the broadcast side is the cost driver long before it is the memory
  driver), both axes 4x -> ~4x (probe-term dominated at these
  sizes; the full cross term is |left| x |probes|).
- CartesianProduct: what you get when neither side is broadcastable.
  |left| x |probes| ROWS materialize through the shuffle before the
  filter — catastrophic at any real scale.

Because the failure mode (probe side quietly growing past "small") is
a data property no static plan pin can see, :func:`containment_join`
takes a ``max_probe_rows`` bound and FAILS LOUD when the probe side
exceeds it. The bound costs one count() of the probe subquery — a
narrow scan of the side that is small by contract. Callers with a
probe side already bounded by construction (a literal list, a
limit(k)) can pass ``enforce_bound=False`` to skip the extra action.

Probe sets larger than the bound need a different algorithm, not a
bigger broadcast — blocked n-gram prefiltering (operators/dedup.py's
jaccard blocking) or an inverted fingerprint index (dedup_winnowing's
shape) turn containment into an equi-join on shared grams; that is
the documented scale path, not raising ``max_probe_rows``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_MAX_PROBE_ROWS = 100_000


def containment_join(
    left: DataFrame,
    probes: DataFrame,
    text_col: str,
    probe_col: str,
    extra_cond: Column | None = None,
    max_probe_rows: int = DEFAULT_MAX_PROBE_ROWS,
    enforce_bound: bool = True,
) -> DataFrame:
    """Inner-join ``left`` rows with every probe contained in their
    ``text_col`` (``instr(text, probe) > 0``), probe side broadcast.

    ``max_probe_rows`` is the enforced "keep right side small"
    contract: when ``enforce_bound`` is True (default) the probe side
    is counted first and a ValueError names the overflow instead of
    letting a silently-grown probe set produce an hours-long
    nested-loop stage or an OOM'd broadcast. See the module docstring
    for the measured scaling and the documented alternatives past the
    bound."""
    if enforce_bound:
        n = probes.count()
        if n > max_probe_rows:
            raise ValueError(
                f"containment_join: probe side has {n} rows, over the "
                f"max_probe_rows={max_probe_rows} broadcast-nested-loop "
                "bound. A probe set this large needs an equi-join "
                "reformulation (n-gram blocking / fingerprint index), "
                "not a bigger broadcast — see "
                "prohap_spark/operators/containment.py."
            )
    cond = F.instr(F.col(text_col), F.col(probe_col)) > 0
    if extra_cond is not None:
        cond = cond & extra_cond
    return left.join(F.broadcast(probes), cond)
