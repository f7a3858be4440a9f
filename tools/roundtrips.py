"""Count the Python->JVM py4j round trips a block of driver code makes.

Every DataFrame and Column call from PySpark is at least one py4j command
(name lookups, the call itself, one per element of a list passed to the
JVM), so the count measures the cost of building a plan from Python,
independent of how fast the machine is. Memory-delete commands are left
out: Python's garbage collector sends them at times of its own choosing.

    with round_trips(spark) as n:
        df = build_query(spark)
    print(n[0])
"""

from __future__ import annotations

import contextlib

from py4j import protocol

_MEMORY_DEL = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


@contextlib.contextmanager
def round_trips(spark):
    """Yield a one-element list whose item counts the py4j commands sent
    inside the block, memory deletes excluded."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(_MEMORY_DEL):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = send
