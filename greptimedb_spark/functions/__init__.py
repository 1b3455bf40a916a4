"""GreptimeDB's custom function packages re-expressed as Spark column
expressions (reference registry: src/common/function/src/function_registry.rs:207-252).

Everything here is built from pyspark.sql.functions (JVM-side, codegen-able);
Python/pandas UDFs appear only where column algebra genuinely can't express
the semantics (none so far — geo hashing uses bit algebra, IP uses arithmetic).

``register_all(spark)`` exposes the packages to SQL as named functions where a
SQL surface is useful.
"""

import weakref

from greptimedb_spark.functions import (  # noqa: F401
    anomaly, dialect, geo, ip, json_fns, math_fns, sketch, text, vector,
)

# session → the session time zone its zone-reading SQL functions were
# created under
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_all(spark) -> None:
    """Register every package's SQL functions on ``spark``, once per session
    (a ``spark.newSession()`` gets its own).  A Spark SQL temporary function
    keeps the session time zone it was created under, so the ones that read
    the zone (``dialect.register_zoned``) are created again whenever the
    zone has changed since."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    seen = _REGISTERED.get(spark)
    if seen == tz:
        return
    if seen is None:
        for pkg in (text, vector, geo, json_fns, ip, anomaly, dialect):
            pkg.register(spark)
        sketch.register_udd(spark)
        sketch.register_weighted_pct(spark)
    dialect.register_zoned(spark)
    _REGISTERED[spark] = tz
