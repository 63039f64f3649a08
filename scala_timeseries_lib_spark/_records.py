"""Decision records: each choice the engine makes on the caller's behalf is
one INFO record on the ``scala_timeseries_lib_spark`` logger, with a fixed
``extra`` schema -- ``op`` (the deciding site), ``decision`` (what it chose),
``inputs`` (a dict of what it chose from) and ``elapsed_ms`` (the time spent
deciding, estimate or stats job included)."""

from __future__ import annotations

import logging

__all__ = ["decision_record"]

_log = logging.getLogger("scala_timeseries_lib_spark")


def decision_record(op: str, decision, inputs: dict, elapsed_ms: float) -> None:
    _log.info(
        "%s: %s %s", op, decision, inputs,
        extra={"op": op, "decision": decision, "inputs": inputs,
               "elapsed_ms": elapsed_ms},
    )
