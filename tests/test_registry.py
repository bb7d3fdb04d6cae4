"""The registry's two maps agree with each other and with the entry
contract. No Spark session: importing the registry only registers.

``ORACLES`` is filled by ``query()`` and also by hand after some
registrations; a mistyped hand-assigned key would name no query, and
``scripts/selfcheck.py`` (which walks ``queries()``) would never run
that oracle.

No op writes the conf of the session it is given: the registry runs
each op on its own ``session.op_session`` child. No op reads a fixture
file but through ``sources/tables.py``'s source resolver. Every oracle
shadow splices its CTE with the one ``tables.prepend_cte``.
"""

from __future__ import annotations

import pathlib
import re

import pytest

import __spark_entry__ as entrymod
from spark_streaming_stream_analyzer_spark import registry
from spark_streaming_stream_analyzer_spark.operators import similarity


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


#: A read of an ``sf_dir`` fixture path: ``read.parquet(`` (possibly
#: after ``.schema(...)``/``.option(...)``) whose argument names
#: ``sf_dir``, on one line or several.
_FIXTURE_READ = re.compile(
    r"\bread(?:\.\w+\([^()]*\))*\.parquet\(\s*(?:os\.path\.join\(\s*)?"
    r"(?:sf_dir\b|f[\"'][^\"']*\{sf_dir\})"
)


def test_fixtures_are_read_only_through_the_source_resolver():
    # ``sources/tables.py`` resolves each fixture's schema once; a
    # direct read elsewhere pays schema inference on every call
    pkg = pathlib.Path(registry.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{text.count(chr(10), 0, m.start()) + 1}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "sources/tables.py"
        for text in [path.read_text()]
        for m in _FIXTURE_READ.finditer(text)
    ]
    assert not hits, hits


def test_fixture_read_guard_sees_the_read_shapes():
    for src in (
        'spark.read.parquet(os.path.join(sf_dir, "events.parquet"))',
        'spark.read.parquet(\n    os.path.join(\n        sf_dir, "orders.parquet"))',
        'spark.read.schema(s).parquet(os.path.join(sf_dir, "events.parquet"))',
        'spark.read.parquet(f"{sf_dir}/events.parquet")',
    ):
        assert _FIXTURE_READ.search(src), src
    for src in ("spark.read.parquet(store_dir)", "df.write.parquet(os.path.join(sf_dir, x))"):
        assert not _FIXTURE_READ.search(src), src


@pytest.mark.parametrize(
    "shadow",
    [
        registry._shadow_finite_events,
        registry._shadow_keyed_documents,
        similarity._shadow_nonnull_embeddings,
    ],
)
def test_oracle_shadow_of_a_commented_with_has_one_with(shadow):
    sql = "-- a leading note\n-- and another\nWITH x AS (SELECT 1 AS a)\nSELECT * FROM x"
    out = shadow(sql)
    assert len(re.findall(r"\bWITH\b", out, flags=re.IGNORECASE)) == 1, out
    assert out.startswith("-- a leading note\n-- and another\nWITH ")
    assert out.rstrip().endswith("SELECT * FROM x")
