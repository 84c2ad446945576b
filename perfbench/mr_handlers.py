"""Handlers of the ``mr_requests`` workflow and the pure-Python fold that
predicts every request's result.

Workflow ``bench``, job ``fanout`` (initial step ``root``):

* ``root``: mapper ``fan`` yields ``MrConfigureToMap("leaf")`` and re-keys
  each argument, so every argument pair becomes a child invocation of
  ``leaf``; reducer ``total`` folds the children's results.
* ``leaf``: mapper ``chunk`` emits ``value % 7 + 1`` pairs per argument
  over keys 0-9; combiner ``presum`` pre-sums per key; reducer ``total``.

The engine pickles these functions by value (``engine._ensure_fn_ships``),
so workers never import this module.
"""

from __future__ import annotations

from jobx_spark.handlers import MrConfigureToMap, MrConfigureToReturn


def _chunks(value: int):
    for i in range(value % 7 + 1):
        yield (value + i) % 10, value // (i + 1)


def fan(scope, arguments):
    yield MrConfigureToMap("leaf")
    for name, value in arguments:
        yield int(name[1:]) % 8, value


def chunk(scope, arguments):
    yield MrConfigureToReturn()
    for _key, value in arguments:
        yield from _chunks(value)


def presum(scope, results):
    sums: dict = {}
    for k, v in results:
        sums[k] = sums.get(k, 0) + v
    for k in sorted(sums):
        yield k, [sums[k]]


def total(scope, results):
    sums: dict = {}
    for k, values in results:
        sums[k] = sums.get(k, 0) + sum(values)
    for k in sorted(sums):
        yield k, sums[k]


def register(engine) -> None:
    engine.create_workflow("bench")
    engine.register_handler("bench", "fan", fn=fan, handler_type="mapper")
    engine.register_handler("bench", "chunk", fn=chunk, handler_type="mapper")
    engine.register_handler("bench", "presum", fn=presum, handler_type="combiner")
    engine.register_handler("bench", "total", fn=total, handler_type="reducer")
    engine.create_step("bench", "root", "fan", "total")
    engine.create_step("bench", "leaf", "chunk", "total", "presum")
    engine.create_job("bench", "fanout", "root")


def expected_pairs(arguments: dict) -> list[list[int]]:
    """The result the blocking response must carry, folded in Python."""
    sums: dict = {}
    for value in arguments.values():
        for k, v in _chunks(value):
            sums[k] = sums.get(k, 0) + v
    return [[k, sums[k]] for k in sorted(sums)]
