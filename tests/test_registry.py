"""The registry's two maps agree with each other and with the entry
contract. No Spark session: importing the registry only registers.

``ORACLES`` is filled by ``query()`` and also by hand after some
registrations; a mistyped hand-assigned key would name no query, and
``scripts/selfcheck.py`` (which walks ``queries()``) would never run
that oracle.

No op writes the conf of the session it is given: the registry runs
each op on its own ``session.op_session`` child.
"""

from __future__ import annotations

import pathlib

import __spark_entry__ as entrymod
from spark_streaming_stream_analyzer_spark import registry


def test_oracles_name_registered_queries_and_entry_reexports_the_maps():
    orphans = sorted(set(registry.ORACLES) - set(registry.QUERIES))
    assert not orphans, f"ORACLES keys with no registered query: {orphans}"
    assert list(entrymod.queries().items()) == list(registry.QUERIES.items())
    assert list(entrymod.oracle_sql().items()) == list(registry.ORACLES.items())


def test_package_writes_no_caller_session_conf():
    # ``spark`` is the session parameter of every op and loader
    pkg = pathlib.Path(registry.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "spark.conf.set(" in line or "spark.conf.unset(" in line
    ]
    assert not hits, hits
