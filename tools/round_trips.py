"""Count the py4j round trips a block of driver code makes.

Every call from Python into the JVM (a method on a Java object, a
``functions.*`` lookup, a conversion) is one ``send_command`` on the
connection the calling thread holds.  ``count_round_trips`` counts the
calling thread's commands only: py4j's finalizer thread sends object
releases on its own schedule.

    with count_round_trips() as calls:
        df = build(spark)
    print(len(calls))
"""

from __future__ import annotations

import contextlib
import threading


@contextlib.contextmanager
def count_round_trips():
    """Yield a list that collects each command the calling thread sends
    to the JVM inside the ``with`` block."""
    from py4j.clientserver import ClientServerConnection

    calls: list[str] = []
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counted(self, command):
        if threading.get_ident() == caller:
            calls.append(command)
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send
