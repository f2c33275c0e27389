"""One barrier job per fit, with a driver-hosted relay for the exchange.

This is the Spark re-expression of the reference's training architecture:
dask-xgboost gang-schedules one task per worker (core.py:242-253), boots a
rendezvous tracker on the scheduler (start_tracker, core.py:39-59,
tracker.py), and the workers sync through Rabit. Here:

- gang scheduling → one ``mapInArrow(..., barrier=True)`` job over the
  input, with at most as many partitions as the cluster has task slots
  (all tasks start together or none do);
- tracker → ``Relay``, a TCP server the driver starts per fit. It binds
  to the driver host on an ephemeral port and admits a task only if it
  presents the fit's random secret;
- allreduce → every round, each rank sends one payload, the driver's
  coordinator reduces the payloads in rank order (so results are
  deterministic for a given partitioning) and sends one answer back to
  every rank.

``BarrierTaskContext.allGather`` / ``barrier()`` are not used for the
exchange: on Spark 4.1 every call costs about 1 s (the driver polls the
barrier state once a second), so a per-level allGather made a 2-tree,
depth-3 fit take 9 s. A relay round over a local socket costs
milliseconds.

Every socket operation has a timeout (``RELAY_TIMEOUT_S``), so a rank
that dies or hangs fails the fit instead of hanging it; on any error the
relay tells the connected ranks to stop and closes every socket.
"""

from __future__ import annotations

import hmac
import pickle
import secrets
import socket
import struct
import sys
import threading
import time
from typing import Any, Callable

RELAY_TIMEOUT_S = 300.0
# a rank sends its hello as soon as it connects; anything slower is not a rank
HELLO_TIMEOUT_S = 5.0
# frame length; a rank's hello is the fit's secret and the rank (plain
# struct formats: the rank side is pickled by value)
_HEADER = "!Q"
_HELLO = "!32sI"


class RelayAbort(Exception):
    """Raised in a rank when the driver ended the exchange early."""


def _frame(obj: Any) -> bytes:
    data = pickle.dumps(obj, protocol=5)
    return struct.pack(_HEADER, len(data)) + data


def _connected(sock: socket.socket) -> socket.socket:
    sock.settimeout(RELAY_TIMEOUT_S)
    # a round is one small message each way: Nagle's algorithm would hold
    # each one back for the peer's delayed ACK (about 40 ms)
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


def _recv_exact(sock: socket.socket, n: int) -> bytearray:
    buf = bytearray(n)
    view = memoryview(buf)
    pos = 0
    while pos < n:
        got = sock.recv_into(view[pos:], n - pos)
        if not got:
            raise ConnectionError("relay peer closed the connection")
        pos += got
    return buf


def _recv(sock: socket.socket) -> Any:
    (n,) = struct.unpack(_HEADER, _recv_exact(sock, struct.calcsize(_HEADER)))
    return pickle.loads(_recv_exact(sock, n))


class Relay:
    """Driver side of the exchange for one fit.

    ``Relay(host)`` binds the listening socket; ``start(world, coordinator)``
    runs ``coordinator(relay)`` on a thread once all ``world`` ranks have
    connected. The coordinator calls ``gather()`` (one payload per rank, in
    rank order) and ``broadcast(obj)``; after ``wait()``, ``result`` holds
    what it returned and ``error`` what it raised.
    """

    def __init__(self, host: str):
        self.secret = secrets.token_hex(16)
        self._server = socket.create_server((host, 0))
        self.address = (host, self._server.getsockname()[1])
        self._conns: list[socket.socket] = []
        self._thread: threading.Thread | None = None
        self.result: Any = None
        self.error: BaseException | None = None

    def start(self, world: int, coordinator: Callable[[Relay], Any]) -> None:
        self._thread = threading.Thread(
            target=self._run, args=(world, coordinator), name="gbt-relay", daemon=True
        )
        self._thread.start()

    def _run(self, world: int, coordinator) -> None:
        try:
            self._accept(world)
            self.result = coordinator(self)
        except BaseException as e:  # raised on the driver by run_barrier
            self.error = e
            for conn in self._conns:
                try:
                    conn.sendall(_frame(("abort", None)))
                except OSError:
                    pass
        finally:
            self.close()

    def _accept(self, world: int) -> None:
        deadline = time.monotonic() + RELAY_TIMEOUT_S
        by_rank: dict[int, socket.socket] = {}
        while len(by_rank) < world:
            self._server.settimeout(max(deadline - time.monotonic(), 0.001))
            conn = self._server.accept()[0]
            # a stray client that sends nothing, too little or the wrong
            # secret is dropped without stalling the ranks behind it
            try:
                conn.settimeout(min(HELLO_TIMEOUT_S, max(deadline - time.monotonic(), 0.001)))
                secret, rank = struct.unpack(_HELLO, _recv_exact(conn, struct.calcsize(_HELLO)))
            except OSError:  # ConnectionError and socket.timeout included
                conn.close()
                continue
            if not hmac.compare_digest(secret, self.secret.encode()) or rank >= world \
                    or rank in by_rank:
                conn.close()
                continue
            by_rank[rank] = _connected(conn)
            self._conns.append(conn)  # for close() while still accepting
        self._server.close()
        self._conns = [by_rank[r] for r in range(world)]

    def gather(self) -> list[Any]:
        return [_recv(conn) for conn in self._conns]

    def broadcast(self, obj: Any) -> None:
        data = _frame(("ok", obj))
        for conn in self._conns:
            conn.sendall(data)

    def close(self) -> None:
        self._server.close()
        for conn in self._conns:
            conn.close()

    def wait(self) -> None:
        if self._thread is not None:
            self._thread.join(RELAY_TIMEOUT_S)


class RankLink:
    """Rank side of the exchange: one rank's connection to the driver's relay."""

    def __init__(self, address: tuple[str, int], secret: str, rank: int):
        self.rank = rank
        self._sock = _connected(socket.create_connection(address, timeout=RELAY_TIMEOUT_S))
        self._sock.sendall(struct.pack(_HELLO, secret.encode(), rank))

    def exchange(self, payload: Any) -> Any:
        """Send this rank's payload for the round; return the driver's answer."""
        self._sock.sendall(_frame(payload))
        return self.receive()

    def receive(self) -> Any:
        kind, obj = _recv(self._sock)
        if kind == "abort":
            raise RelayAbort()
        return obj

    def close(self) -> None:
        self._sock.close()


def task_slots(spark) -> int:
    """How many tasks the cluster can run at once: the most a barrier stage
    may hold."""
    jsc = spark.sparkContext._jsc.sc()
    return int(jsc.maxNumConcurrentTasks(jsc.resourceProfileManager().defaultResourceProfile()))


def _own_partitions(out, slots: int) -> int | None:
    """Tasks in a barrier stage over ``out``'s own partitions, or None
    where Spark would refuse that stage or the count is unknown without
    running a job.

    Spark refuses a barrier stage with more tasks than slots, or with an
    RDD in the stage whose partition count differs from the stage's or
    that reads two shuffles (``DAGScheduler``'s barrier RDD-chain rule):
    a union or a coalesce in the caller's plan. An adaptive plan (one
    with an exchange) builds its RDD only by running its shuffle stages.
    """
    plan = out._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    rdd = plan.execute()
    n = int(rdd.getNumPartitions())
    stack, seen = [rdd], set()
    while stack:
        r = stack.pop()
        if r.id() in seen:
            continue
        seen.add(r.id())
        deps = r.dependencies()
        shuffles, narrow = 0, []
        for d in (deps.apply(i) for i in range(deps.size())):
            if d.getClass().getName() == "org.apache.spark.ShuffleDependency":
                shuffles += 1
            else:
                narrow.append(d.rdd())
        if r.getNumPartitions() != n or shuffles > 1:
            return None
        stack.extend(narrow)
    return n if n <= slots else None


def run_barrier(df, rank_fn: Callable, coordinator: Callable[[Relay], Any]) -> Any:
    """Run ``rank_fn(batches, link)`` once per partition in one barrier
    job, with ``coordinator(relay)`` on the driver; return what the
    coordinator returned.

    ``batches`` iterates the rank's Arrow record batches and ``link`` is
    its ``RankLink``. The job runs on ``df``'s own partitions when Spark
    accepts a barrier stage over them (``_own_partitions``): then each
    rank sums its rows in the order MLlib does. Otherwise ``df`` is first
    repartitioned round-robin to the slot count; sums then differ from
    MLlib's in rounding, and on a multi-host cluster the order in which a
    rank fetches its shuffle blocks, and so the rounding, can vary from
    fit to fit.
    """
    from pyspark import BarrierTaskContext, cloudpickle

    # ship the rank code by value: the workers need not import this package
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(sys.modules[rank_fn.__module__])

    spark = df.sparkSession
    host = spark.sparkContext.getConf().get("spark.driver.host")
    slots = task_slots(spark)
    relay = Relay(host)
    address, secret = relay.address, relay.secret

    def task(batches):
        link = RankLink(address, secret, BarrierTaskContext.get().partitionId())
        try:
            rank_fn(batches, link)
        except RelayAbort:
            pass
        finally:
            link.close()
        return iter(())

    try:
        out = df.mapInArrow(task, "_ byte", barrier=True)
        world = _own_partitions(out, slots)
        if world is None:
            world = slots
            out = df.repartition(world).mapInArrow(task, "_ byte", barrier=True)
        relay.start(world, coordinator)
        job_error = None
        try:
            out.collect()  # bounded: the tasks return no rows
        except Exception as e:
            job_error = e
        # every rank has finished, so a coordinator still waiting on a
        # socket would wait for nothing
        relay.close()
        relay.wait()
        # an error the coordinator raised on purpose (bad input) explains a
        # failed job better than the job's own error does
        if relay.error is not None and (job_error is None or isinstance(relay.error, ValueError)):
            raise relay.error from job_error
        if job_error is not None:
            raise job_error
        return relay.result
    finally:
        relay.close()
