"""One client connection: its state and every statement about it.

The reference keeps a connection's schema, time zone and variables in one
query context (its ``session`` crate; SET is ``operator/statement/set.rs``).
``Connection`` holds that state for one ``GreptimeSQL`` and answers SET/SHOW
of session variables, PREPARE/EXECUTE, cursors, KILL, USE and the database
DDL; ``GreptimeSQL.sql`` asks it before any dialect rewrite. Databases are
catalog-level, as in the reference: with a catalog attached, ``databases``
is the catalog's ``db_options`` dict, shared by every connection on it.
"""
from __future__ import annotations

import itertools
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from greptimedb_spark.functions import register_all
from greptimedb_spark.sqltext import map_outside_strings, split_top

_TZ_CONF = "spark.sql.session.timeZone"
_OFFSET_RE = re.compile(r"([+-])(\d{1,2}):(\d{2})")
_WORD_RE = re.compile(r"\w+")

# statements with a fixed answer: (rows, schema)
_FIXED = {
    # one row per build attribute (function/system.sql; the golden is
    # REPLACE-redacted, so only the `key:<space>` shapes must match)
    "build": ([("branch: main",), ("commit: unknown",),
               ("commit_short: unknown",), ("clean: true",),
               ("version: 0.1.0",)], "`build()` string"),
    "version": ([("0.1.0",)], "`version()` string"),
    # session ids (function/system.sql; the goldens redact the value)
    "pg_backend_pid": ([(1,)], "`pg_backend_pid()` bigint"),
    "connection_id": ([(1,)], "`connection_id()` bigint"),
    # one row for this session's current query (show_process_list.sql;
    # ids, addresses and times are redacted by the goldens)
    "processlist": (
        [("127.0.0.1:4001/0", "greptime", "SHOW PROCESSLIST", "PT0.001S")],
        "`Id` string, `Catalog` string, `Query` string, `ElapsedTime` string"),
    "full processlist": (
        [("127.0.0.1:4001/0", "greptime", "public",
          "unknown[unknown client addr]", "127.0.0.1:4001",
          "2024-01-01T00:00:00.000", "PT0.001S", "SHOW FULL PROCESSLIST")],
        "`Id` string, `Catalog` string, `Schema` string, `Client` string, "
        "`Frontend` string, `StartTime` string, `ElapsedTime` string, "
        "`Query` string"),
}
# MySQL system variables with a fixed value (mysql.result)
_FIXED_VARS = {"tx_isolation": "REPEATABLE-READ",
               "transaction_isolation": "REPEATABLE-READ",
               "version_comment": "GreptimeDB",
               "autocommit": "1", "session.auto_increment_increment": "1"}
# ALTER DATABASE option keys the reference accepts (alter_database.sql)
_DB_OPTION_RE = re.compile(
    r"ttl|sst_format|compaction\.type|compaction\.twcs\.(?:time_window"
    r"|trigger_file_num|max_output_file_size|fallback_to_local)")
# statements answered before the front door's bare-`?` rejection
_BEFORE_PLACEHOLDERS = {"PREPARE", "EXECUTE", "DEALLOCATE", "DECLARE",
                        "FETCH", "CLOSE", "KILL"}
# first word → [(pattern, handler, clears warnings)], in recognition order
_HANDLERS: dict[str, list[tuple[re.Pattern, Callable, bool]]] = {}


def _answers(words: str, pattern: str, clears: bool = False):
    """Register a ``Connection`` method as the answer to a statement that
    starts with one of ``words`` and fully matches ``pattern``. ``clears``:
    the statement clears the queued warnings before it runs."""
    rx = re.compile(pattern, re.IGNORECASE | re.DOTALL)

    def register(fn):
        for w in words.split():
            _HANDLERS.setdefault(w, []).append((rx, fn, clears))
        return fn
    return register


def empty_ok(spark: SparkSession) -> DataFrame:
    """The answer of a statement that returns no result set."""
    return spark.createDataFrame([], "result string")


def unbound_placeholder(text: str) -> bool:
    """A `?` outside quotes: a placeholder with no bound value outside
    PREPARE (mysql_prepare.result: SELECT ? → Placeholder error)."""
    return "?" in text and "?" in re.sub(r"'[^']*'|\"[^\"]*\"", "", text)


def _zone_forms(tz: str) -> tuple[str, str]:
    """A SET TIME_ZONE value → (its display form, the Spark session zone).
    ±H:MM becomes ±HH:MM, which java ZoneId and pyarrow both accept (not
    'GMT±HH:MM': it breaks pandas UDFs). Past ZoneOffset's ±18h (range/to.sql
    +23:00) the session stays UTC and only the ALIGN origin shifts."""
    tz = tz.strip() or "UTC"
    m = _OFFSET_RE.fullmatch(tz)
    if m is None:
        return tz, tz
    shown = f"{m.group(1)}{int(m.group(2)):02d}:{m.group(3)}"
    return shown, "UTC" if int(m.group(2)) > 18 else shown


def _offset_ms(tz: str) -> int:
    """'+08:00' / 'Asia/Shanghai' / 'UTC' → offset milliseconds."""
    tz = tz.strip()
    m = _OFFSET_RE.fullmatch(tz)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60) * 1000
    if tz.upper() in ("UTC", "GMT", ""):
        return 0
    import datetime as dt
    from zoneinfo import ZoneInfo

    off = dt.datetime(1970, 1, 1, tzinfo=ZoneInfo(tz)).utcoffset()
    return int(off.total_seconds() * 1000)


def _bind_placeholders(body: str, args: list[str]) -> str:
    """Substitute `?` outside string literals with the argument literals,
    validating explicit int casts (the reference's early conversion)."""
    n = 0

    def bind(m: re.Match) -> str:
        nonlocal n
        if m.group() != "?":
            return m.group()  # a double-quoted name or string
        if n >= len(args):
            raise ValueError(
                "Placeholder '?' was not provided a value for execution")
        arg = args[n]
        n += 1
        tail = m.string[m.end():]
        tm = re.match(r"\s*::\s*(\w+)", tail)
        if tm is None and re.search(r"(?is)CAST\s*\(\s*$",
                                    m.string[:m.start()][-24:]):
            tm = re.match(r"\s*AS\s+(\w+)", tail)  # CAST(? AS T)
        target = tm.group(1).upper() if tm else None
        if target in ("INT", "INTEGER", "BIGINT", "SMALLINT",
                      "TINYINT") and arg.startswith("'"):
            inner = arg.strip("'")
            if not re.fullmatch(r"-?\d+", inner):
                raise ValueError(
                    "Invalid request parameter: Unable to convert "
                    f"{inner} to datatype Int32(Int32Type)")
        return arg

    out = map_outside_strings(
        body, lambda seg: re.sub(r'"(?:[^"]|"")*"|\?', bind, seg))
    if n < len(args):
        # extra args are an error in the reference's binder
        raise ValueError(
            f"Invalid request parameter: expected {n} parameters, "
            f"got {len(args)}")
    return out


def _cursor_name(name: str) -> str:
    """canonicalize_object_name (cursor_parser.rs:54): unquoted names fold
    to lowercase, quoted ones keep their case."""
    return name[1:-1] if name[:1] == name[-1:] == '"' else name.lower()


class Connection:
    """The state of one connection and the statements about it. EXECUTE
    and DECLARE run their query through the whole front door, ``run``;
    DROP DATABASE drops its tables and ``unbind``s their Spark views."""

    def __init__(self, spark: SparkSession, catalog, run: Callable,
                 unbind: Callable):
        self.spark = spark
        self.catalog = catalog
        self._run = run
        self._unbind = unbind
        self.current_db = "public"
        self.via_search_path = False  # chosen by SET search_path, not USE
        # CREATE DATABASE → options; the catalog's own dict when attached
        self.databases: dict[str, dict] = (
            catalog.db_options if catalog is not None else {})
        self.cursors: dict[str, tuple] = {}  # name → (schema, row iterator)
        self.prepared: dict[str, str] = {}  # PREPARE name → statement
        self.session_vars: dict[str, str] = {}
        # queued by an unsupported SET, cleared by a `clears` statement or
        # by any statement that reaches the dialect pipeline
        self.warnings: list[tuple] = []
        self.time_zone = ""  # as SET TIME_ZONE gave it; "" is UTC
        self.read_pref = "LEADER"

    def answer(self, text: str) -> DataFrame | None:
        """The result of a connection statement (``text`` without its
        comments), or None for any other statement."""
        stmt = text.strip().rstrip(";").rstrip()
        word = _WORD_RE.match(stmt)
        word = word.group().upper() if word else ""
        for rx, handle, clears in _HANDLERS.get(word, ()):
            m = rx.fullmatch(stmt)
            if m is None:
                continue
            if word not in _BEFORE_PLACEHOLDERS and unbound_placeholder(stmt):
                return None  # the front door rejects the unbound `?`
            if clears:
                self.warnings = []
            return handle(self, m)
        return None

    def _table(self, rows: list[tuple], schema: str) -> DataFrame:
        return self.spark.createDataFrame(rows, schema)

    @property
    def display_zone(self) -> str:
        """The zone as SELECT timezone() and SHOW VARIABLES show it."""
        return _zone_forms(self.time_zone)[0]

    @property
    def tz_offset_ms(self) -> int:
        """RANGE's default ALIGN TO origin."""
        return _offset_ms(self.time_zone)

    def apply_zone(self) -> None:
        """Point the shared Spark session at this connection's zone, which
        string-literal parsing and timestamp rendering follow (reference
        system/timezone.sql); another connection may have moved it."""
        zone = _zone_forms(self.time_zone)[1]
        if self.spark.conf.get(_TZ_CONF) != zone:
            self.spark.conf.set(_TZ_CONF, zone)
            # SQL temp functions (gt_to_unixtime, …) capture the session
            # zone at definition: re-register under the new zone
            register_all(self.spark)

    # PREPARE / EXECUTE / DEALLOCATE (prepare/mysql_prepare.sql): `?`
    # placeholders bind the EXECUTE arguments as typed literals.

    @_answers("PREPARE", r"PREPARE\s+(\w+)\s+FROM\s+'((?:[^']|'')*)'")
    def _prepare(self, m: re.Match) -> DataFrame:
        body = m.group(2).replace("''", "'")
        self.prepared[m.group(1)] = body.strip().rstrip(";").strip()
        return empty_ok(self.spark)

    @_answers("EXECUTE", r"EXECUTE\s+(\w+)(?:\s+USING\s+(.*?))?")
    def _execute(self, m: re.Match) -> DataFrame:
        name, using = m.groups()
        if name not in self.prepared:
            raise ValueError(f"Prepared statement not found: {name}")
        args = [a.strip() for a in split_top(using)] if using else []
        return self._run(_bind_placeholders(self.prepared[name], args))

    @_answers("DEALLOCATE", r"DEALLOCATE\s+(?:PREPARE\s+)?(\w+)")
    def _deallocate(self, m: re.Match) -> DataFrame:
        self.prepared.pop(m.group(1), None)
        return empty_ok(self.spark)

    @_answers("DECLARE", r"DECLARE\s+([\w.\"]+)\s+CURSOR\s+FOR\s+(.+)")
    def _declare(self, m: re.Match) -> DataFrame:
        """Run the query and park a toLocalIterator(), the Spark analog of
        RecordBatchStreamCursor (statement/cursor.rs:30-65): rows reach the
        driver partition by partition as FETCHes consume them."""
        name, query = _cursor_name(m.group(1)), m.group(2)
        if name in self.cursors:
            # wire text per operator/src/error.rs:828
            raise ValueError(f"A cursor named {name} already exists")
        if not re.match(r"(?is)\s*(SELECT|WITH)\b", query):
            raise ValueError("Expect select query in cursor statement")
        df = self._run(query)
        self.cursors[name] = (df.schema, df.toLocalIterator())
        return empty_ok(self.spark)

    @_answers("FETCH", r"FETCH\s+(\d+)\s+(?:(?:FROM|IN)\s+)?([\w.\"]+)")
    def _fetch(self, m: re.Match) -> DataFrame:
        """The next n rows; fewer, or none with the cursor's schema, once
        the stream is exhausted (RecordBatchStreamCursor::take)."""
        name = _cursor_name(m.group(2))
        if name not in self.cursors:
            raise ValueError(f"Cursor {name} is not found")
        schema, it = self.cursors[name]
        return self._table(list(itertools.islice(it, int(m.group(1)))),
                           schema)

    @_answers("CLOSE", r"CLOSE\s+([\w.\"]+)")
    def _close(self, m: re.Match) -> DataFrame:
        self.cursors.pop(_cursor_name(m.group(1)), None)
        return empty_ok(self.spark)

    @_answers("KILL", r"KILL\s+(?:QUERY\s+)?'?([\w-]+)'?")
    def _kill(self, m: re.Match) -> DataFrame:
        # parse-and-acknowledge (statements/kill.rs): this engine has no
        # process registry, the reference's is distributed-frontend state
        return empty_ok(self.spark)

    @_answers("SHOW SET",
              r"(SHOW|SET)\s+search_path(?:\s*(?:TO|=)\s*'?(\w+)'?)?")
    def _search_path(self, m: re.Match) -> DataFrame:
        if m.group(1).upper() == "SHOW":
            return self._table([(self.current_db,)], "search_path string")
        if m.group(2):
            # unlike USE, this does not pin the schema against DROP
            # DATABASE (pg_catalog.result drops `test` right after)
            self.current_db = m.group(2).lower()
            self.via_search_path = True
        return empty_ok(self.spark)

    @_answers("SET", r"SET\s+(?:@@)?(?:SESSION\s+|LOCAL\s+|GLOBAL\s+)?"
              r"(?:SESSION\.)?MAX_EXECUTION_TIME\s*=\s*(\S+)")
    def _set_timeout(self, m: re.Match) -> DataFrame:
        # set.rs: a non-numeric (or negative) expr is Unsupported, one past
        # u64::MAX Invalid (system/max_execution_time.result:171,192)
        expr = m.group(1)
        if not re.fullmatch(r"\d+", expr):
            raise ValueError(f"Not supported: Unsupported timeout expr "
                             f"{expr} in set variable statement")
        if int(expr) > 0xFFFFFFFFFFFFFFFF:
            raise ValueError(f"Not supported: Invalid timeout expr "
                             f"{expr} in set variable statement")
        self.session_vars["max_execution_time"] = expr
        self.warnings = []
        return empty_ok(self.spark)

    @_answers("SET", r"SET\s+read_preference\s*=\s*'([^']*)'")
    def _set_read_preference(self, m: re.Match) -> DataFrame:
        # ReadPreference::from_str (operator/src/statement/set.rs:40-66)
        if m.group(1).lower() not in ("leader", "follower"):
            raise ValueError(
                f"Not supported: Invalid read preference expr "
                f"{m.group(1)} in set variable statement")
        self.read_pref = m.group(1).upper()
        return empty_ok(self.spark)

    @_answers("SET", r"SET\s+(?:SESSION\s+|LOCAL\s+)?time_?zone\s*=\s*"
              r"'([^']*)'")
    def _set_time_zone(self, m: re.Match) -> DataFrame:
        # an unknown zone raises before anything changes, and so does one
        # the Spark conf rejects
        _offset_ms(m.group(1))
        self.spark.conf.set(_TZ_CONF, _zone_forms(m.group(1))[1])
        self.time_zone = m.group(1)
        register_all(self.spark)
        return empty_ok(self.spark)

    @_answers("SET", r"SET\s+(?:@@)?(?:SESSION\s+|LOCAL\s+)?(?:SESSION\.)?"
              r"([A-Za-z_][\w.]*)\s*=\s*.+|SET\s+NAMES\s+\S+")
    def _set_unsupported(self, m: re.Match) -> DataFrame:
        # succeeds with a queued warning (system/set_unsupported.sql)
        var = (m.group(1) or "NAMES").split(".")[-1].upper()
        self.warnings = [("Warning", 1000, f"Unsupported set variable {var}")]
        return empty_ok(self.spark)

    @_answers("SHOW", r"SHOW\s+WARNINGS")
    def _show_warnings(self, m: re.Match) -> DataFrame:
        return self._table(self.warnings,
                           "Level string, Code int, Message string")

    @_answers("SHOW", r"SHOW\s+VARIABLES\s+(\w+)", clears=True)
    def _show_variable(self, m: re.Match) -> DataFrame:
        var = m.group(1).lower()
        if var in ("time_zone", "system_time_zone"):
            zone = self.display_zone if var == "time_zone" else "UTC"
            return self._table([(zone,)], f"`{var.upper()}` string")
        # an unknown or unset variable: one empty Variable_name/Value row,
        # the mysql-protocol rendering (basic.result)
        return self._table([(None, None)],
                           "`Variable_name` string, `Value` string")

    @_answers("SHOW", r"SHOW\s+(FULL\s+)?PROCESSLIST")
    def _show_processlist(self, m: re.Match) -> DataFrame:
        return self._table(*_FIXED["full processlist" if m.group(1)
                                   else "processlist"])

    @_answers("SELECT", r"SELECT\s+(?:@@([\w.]+)|read_preference\s*\(\s*\))")
    def _select_variable(self, m: re.Match) -> DataFrame:
        var = m.group(1)
        if var is None:
            return self._table([(self.read_pref,)],
                               "`read_preference()` string")
        short = var.lower().split(".")[-1]
        if short == "max_execution_time":
            val = self.session_vars.get(short, "0")
        else:
            val = _FIXED_VARS.get(var.lower(), _FIXED_VARS.get(
                short, self.session_vars.get(short, "")))
        return self._table([(val,)], f"`@@{var}` string")

    @_answers("SELECT", r"SELECT\s+(timezone|database|build|version"
              r"|pg_backend_pid|connection_id)\s*\(\s*\)", clears=True)
    def _select_call(self, m: re.Match) -> DataFrame:
        call = m.group(1).lower()
        if call in _FIXED:
            return self._table(*_FIXED[call])
        value = self.display_zone if call == "timezone" else self.current_db
        return self._table([(value,)], f"`{call}()` string")

    # Databases are names over the single physical schema: `db.tbl`
    # references lose the prefix, and the current name is tracked so the
    # information_schema surface reports it (tables.result).

    @_answers("USE", r"USE\s+(\w+)", clears=True)
    def _use(self, m: re.Match) -> DataFrame:
        self.current_db = m.group(1).lower()
        self.via_search_path = False
        return empty_ok(self.spark)

    @_answers("CREATE DROP", r"(CREATE|DROP)\s+(?:DATABASE|SCHEMA)\s+"
              r"(IF\s+(?:NOT\s+)?EXISTS\s+)?('[^']*'|\"[^\"]*\"|\w+)\s*"
              r"(?:WITH\s*\((.*)\))?", clears=True)
    def _create_or_drop_database(self, m: re.Match) -> DataFrame:
        verb, if_exists, name, with_opts = m.groups()
        name = (name[1:-1] if name[0] in "'\"" else name).lower()
        if not re.fullmatch(r"[\w\-]+", name):
            raise ValueError(f"Invalid database name: {name}")
        if verb.upper() == "CREATE":
            # built-in schemas always exist (catalog.rs pre-creates them)
            if (name in self.databases or name in (
                    "greptime", "public", "information_schema", "pg_catalog",
                    "greptime_private")) and not if_exists:
                raise ValueError(f"Schema {name} already exists")
            opts = dict(re.findall(r"['\"]?([\w.]+)['\"]?\s*=\s*'([^']*)'",
                                   with_opts or ""))
            if opts.get("ttl", "").strip().lower() == "instant":
                # instant TTL is table-level write skipping, which a
                # database cannot pass on (show_ttl.sql)
                raise ValueError("Failed to parse value instant into key ttl")
            self.databases[name] = opts
            return empty_ok(self.spark)
        if name in ("information_schema", "pg_catalog", "greptime_private"):
            raise ValueError(f"Schema `{name}` is read-only")
        if name == self.current_db and not self.via_search_path:
            raise ValueError(f"Schema `{name}` is in use")
        self.databases.pop(name, None)
        if self.catalog is not None:
            # its tables go too, logical metric tables first so the
            # physical table's busy-check releases
            cat = self.catalog
            victims = [t for t in cat.list_tables()
                       if cat.meta(t).schema_name.lower() == name]
            victims.sort(key=lambda t: not cat.meta(t).on_physical)
            for t in victims:
                cat.drop_table(t)
                self._unbind(t)
        return empty_ok(self.spark)

    @_answers("ALTER", r"ALTER\s+DATABASE\s+(\w+)\s+(SET|UNSET)\s+'?([\w.]+)'?"
              r"(?:\s*=\s*'([^']*)')?", clears=True)
    def _alter_database(self, m: re.Match) -> DataFrame:
        name, action, key, val = m.groups()
        opts = self.databases.get(name.lower())
        if opts is None:
            raise ValueError(f"database {name.lower()} does not exist")
        # option keys and the ttl value are validated up front
        # (alter_database.sql error goldens)
        allowed = _DB_OPTION_RE.fullmatch(key) is not None
        if action.upper() == "UNSET":
            if not allowed:
                raise ValueError(f"Invalid unset database option, key: {key}")
            opts.pop(key, None)
            return empty_ok(self.spark)
        if not allowed:
            raise ValueError("Invalid set database option, "
                             f"key: {key}, value: {val or ''}")
        v = (val or "").strip().lower()
        if key == "ttl" and v == "instant":
            # as at CREATE: no instant TTL on databases
            raise ValueError("Invalid set database option, "
                             "key: ttl, value: instant")
        if key == "ttl" and v not in ("", "forever"):
            from greptimedb_spark.range_query import parse_duration_ms

            try:
                # zero is a valid ttl ('0s' clears it, show_ttl.sql) that
                # the shared parser rejects
                if not re.fullmatch(r"0+\s*[a-zµ]*", v):
                    parse_duration_ms(v)
            except Exception:
                raise ValueError("Invalid set database option, "
                                 f"key: ttl, value: {val}") from None
        # empty ttl normalizes to 'forever' (alter_database.result)
        opts[key] = "forever" if key == "ttl" and not val else val or ""
        return empty_ok(self.spark)

    @_answers("SHOW", r"SHOW\s+CREATE\s+DATABASE\s+(\w+)", clears=True)
    def _show_create_database(self, m: re.Match) -> DataFrame:
        from greptimedb_spark.sql import _render_with_opts

        name = m.group(1).lower()
        if name not in self.databases and name != "public":
            raise ValueError(f"database {name} does not exist")
        body = f"CREATE DATABASE IF NOT EXISTS {name}"
        opts = self.databases.get(name) or {}
        if opts:
            body += "\n" + _render_with_opts(opts)
        return self._table([(name, body)],
                           "`Database` string, `Create Database` string")
