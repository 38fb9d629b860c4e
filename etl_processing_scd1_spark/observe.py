"""Metrics that ride on a write: ``Observation`` readers.

``run_day`` takes every number it reports (SCD1 leg counts, watermarks,
appended fact rows, fraud events) from observations attached to frames
its writes execute anyway, instead of one ``count()``/``agg`` job per
number. Two Spark 4.1 behaviours shape the readers:

- an observation completes from a listener-bus event that trails the
  action, so "has an action run?" is only answerable after draining
  the bus;
- an observation under a plan the optimizer proves empty completes
  with NO row, and ``Observation.get`` then raises — that case reads
  as the caller's defaults (zero counts, NULL maxima).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


def observed(obs: Observation, **defaults) -> dict:
    """The metrics of the first finished action over the observed
    frame; ``defaults`` when the optimizer removed the observed plan.
    Blocks until that action's metrics arrive — call it only after an
    action over the frame has run (see :func:`ensure_ran`)."""
    if obs._jo.getRow().length() == 0:
        return dict(defaults)
    return obs.get


def ensure_ran(obs: Observation, frame: DataFrame) -> None:
    """Run ``frame`` (which consumes the observed frame) through the
    ``noop`` sink unless an action over it already finished — the
    fallback that keeps :func:`observed` from blocking forever when a
    caller reads metrics without having written the frame."""
    done = obs._jo.future()
    if not done.isCompleted():
        frame.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    if not done.isCompleted():
        frame.write.format("noop").mode("overwrite").save()
