from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The whole suite runs with the engine's plan guard ON: every BQL result
# plan is swept by plans.audit.assert_scalable before it reaches a test
# (round-6 verdict item 7). An engine path needing an exemption documents
# it in SparkBQL.PLAN_GUARD_ALLOW, never by unsetting this.
os.environ.setdefault("SPARK_GRAFT_PLAN_GUARD", "1")

from tools.job_table import count_jobs  # noqa: E402,F401  (tests import it from here)

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from bayeslite_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def checkpoint_dir(tmp_path_factory):
    """The reliable-checkpoint directory every test shares: a context
    keeps the first directory set on it (``dedup._truncate``)."""
    return str(tmp_path_factory.mktemp("ckpt"))


def count_py4j(spark, fn):
    """(fn(), Counter of the py4j commands fn sent, by target): a call's
    target object or class (``o12``, ``z:org.apache...``), a reflection
    lookup's or constructor's class name, else the command letter.
    Counts commands from every thread."""
    import threading
    from collections import Counter

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = Counter()
    lock = threading.Lock()

    def counting(command, *args, **kwargs):
        lines = command.split("\n")
        if lines[0] in ("c", "i"):
            target = lines[1]
        elif lines[0] == "r":
            target = lines[2]
        else:
            target = lines[0]
        with lock:
            sent[target] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, sent
