"""Count py4j round trips: the Python → JVM commands sent inside a block.

Every PySpark DataFrame or Column call that reaches the JVM sends at least
one py4j command, so the count measures driver-side plan-building work
independently of the host's speed::

    with py4j_calls() as calls:
        engine.validate_one_pass(df)
    assert calls.count <= 2500

Commands from every thread are counted.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from types import SimpleNamespace

from py4j.java_gateway import GatewayClient


@contextlib.contextmanager
def py4j_calls() -> Iterator[SimpleNamespace]:
    calls = SimpleNamespace(count=0)
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.count += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield calls
    finally:
        GatewayClient.send_command = send
