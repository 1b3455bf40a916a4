-- Statement corpus for tools/diffcheck.py: a few representative statements
-- per family, in the reference's sqlness style.  Each family runs on a fresh
-- Catalog; a statement ends at a line ending in ';'.  Keep every statement
-- deterministic: no wall-clock time, random values, paths or ids in results.

-- family: dml
CREATE TABLE host (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val BIGINT);
INSERT INTO host VALUES (0, 'host1', 0), (5000, 'host1', NULL), (10000, 'host1', 1), (0, 'host2', 6), (5000, 'host2', 7), (10000, 'host2', NULL);
SELECT * FROM host ORDER BY host, ts;
INSERT INTO host VALUES (5000, 'host1', 50), (15000, 'host3', 3);
SELECT host, count(*) AS n, sum(val) AS s FROM host GROUP BY host ORDER BY host;
DELETE FROM host WHERE host = 'host2' AND ts = 5000;
SELECT count(*) AS n FROM host;
DELETE FROM host WHERE val > 10;
SELECT host, ts, val FROM host ORDER BY host, ts;
CREATE TABLE app_log (ts TIMESTAMP(3) TIME INDEX, app STRING, msg STRING, PRIMARY KEY (app)) WITH (append_mode = 'true');
INSERT INTO app_log VALUES (1000, 'a', 'start'), (1000, 'a', 'start'), (2000, 'b', 'stop');
SELECT app, msg, count(*) AS n FROM app_log GROUP BY app, msg ORDER BY app;
CREATE TABLE lnn (ts TIMESTAMP(3) TIME INDEX, k STRING PRIMARY KEY, a BIGINT, b STRING) WITH (merge_mode = 'last_non_null');
INSERT INTO lnn VALUES (1000, 'x', 1, 'one');
INSERT INTO lnn (ts, k, a) VALUES (1000, 'x', 2);
SELECT * FROM lnn;
INSERT INTO host SELECT ts + INTERVAL '1' MINUTE, host, val FROM host WHERE host = 'host1';
SELECT count(*) AS n, max(ts) AS last FROM host;
TRUNCATE TABLE app_log;
SELECT count(*) AS n FROM app_log;
SELECT * FROM missing_table;
DROP TABLE lnn;
SHOW TABLES;

-- family: alter
CREATE TABLE metrics (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, cpu DOUBLE);
INSERT INTO metrics VALUES (1000, 'a', 1.5), (2000, 'b', 2.5);
ALTER TABLE metrics ADD COLUMN mem DOUBLE;
INSERT INTO metrics VALUES (3000, 'c', 3.5, 30.0);
SELECT * FROM metrics ORDER BY ts;
ALTER TABLE metrics ADD COLUMN disk BIGINT DEFAULT 7;
SELECT host, disk FROM metrics ORDER BY host;
ALTER TABLE metrics MODIFY COLUMN disk DOUBLE;
SELECT host, disk FROM metrics ORDER BY host;
DELETE FROM metrics WHERE host = 'a';
SELECT host, mem, disk FROM metrics ORDER BY host;
ALTER TABLE metrics DROP COLUMN mem;
SELECT * FROM metrics ORDER BY ts;
DESC TABLE metrics;
ALTER TABLE metrics DROP COLUMN host;
ALTER TABLE metrics RENAME metrics2;
SELECT count(*) AS n FROM metrics2;

-- family: ttl
CREATE TABLE t_ttl (ts TIMESTAMP(3) TIME INDEX, k STRING PRIMARY KEY, v DOUBLE) WITH (ttl = '1d');
INSERT INTO t_ttl VALUES ('1970-01-01 00:00:00', 'old', 1.0), ('2099-01-01 00:00:00', 'future', 2.0);
ADMIN FLUSH_TABLE('t_ttl');
SELECT k, v FROM t_ttl ORDER BY k;
ALTER TABLE t_ttl SET 'ttl' = '7d';
SHOW CREATE TABLE t_ttl;
CREATE TABLE t_instant (ts TIMESTAMP(3) TIME INDEX, k STRING PRIMARY KEY, v DOUBLE) WITH (ttl = 'instant');
INSERT INTO t_instant VALUES (1000, 'a', 1.0);
SELECT count(*) AS n FROM t_instant;
ADMIN FLUSH_TABLE('t_instant');
SELECT count(*) AS n FROM t_instant;
CREATE DATABASE ttl_db WITH (ttl = 'instant');
CREATE TABLE t_forever (ts TIMESTAMP(3) TIME INDEX, v DOUBLE) WITH (ttl = 'forever');
INSERT INTO t_forever VALUES (0, 1.0);
SELECT count(*) AS n FROM t_forever;

-- family: range
CREATE TABLE host (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val BIGINT);
INSERT INTO host VALUES (0, 'host1', 0), (5000, 'host1', NULL), (10000, 'host1', 1), (15000, 'host1', NULL), (20000, 'host1', 2), (0, 'host2', 3), (5000, 'host2', NULL), (10000, 'host2', 4), (15000, 'host2', NULL), (20000, 'host2', 5);
SELECT ts, host, min(val) RANGE '5s' FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, host, min(val) RANGE '10s', max(val) RANGE '10s' FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, host, min(val) RANGE '5s' FILL NULL FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, host, min(val) RANGE '5s' FILL PREV FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, host, min(val) RANGE '5s' FILL LINEAR FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, host, min(val) RANGE '5s' FILL 6 FROM host ALIGN '5s' ORDER BY host, ts;
SELECT ts, max(val) RANGE '5s' FROM host ALIGN '5s' BY () ORDER BY ts;
SELECT ts, host, sum(val) RANGE '10s' FROM host ALIGN '5s' TO '1970-01-01T00:00:02' ORDER BY host, ts;
SELECT ts, host, avg(val) RANGE '10s' AS a FROM host ALIGN '10s' ORDER BY a DESC, host, ts LIMIT 3;
SELECT host, max(m) AS top FROM (SELECT ts, host, max(val) RANGE '10s' AS m FROM host ALIGN '10s') GROUP BY host ORDER BY host;
WITH r AS (SELECT ts, host, count(val) RANGE '10s' AS n FROM host ALIGN '10s') SELECT host, sum(n) AS total FROM r GROUP BY host ORDER BY host;
SELECT ts, min(val) RANGE '5s' FROM host ALIGN '0s';

-- family: tql
CREATE TABLE reqs (ts TIMESTAMP(3) TIME INDEX, job STRING, instance STRING, greptime_value DOUBLE, PRIMARY KEY (job, instance));
INSERT INTO reqs VALUES (0, 'api', 'i1', 0), (60000, 'api', 'i1', 60), (120000, 'api', 'i1', 120), (180000, 'api', 'i1', 10), (240000, 'api', 'i1', 70), (0, 'api', 'i2', 5), (60000, 'api', 'i2', 10), (120000, 'api', 'i2', 20), (180000, 'api', 'i2', 40), (240000, 'api', 'i2', 80), (0, 'db', 'i1', 1), (120000, 'db', 'i1', 3), (240000, 'db', 'i1', 5);
TQL EVAL (0, 240, '60s') reqs;
TQL EVAL (0, 240, '60s') reqs{job="api"};
TQL EVAL (60, 240, '60s') rate(reqs[2m]);
TQL EVAL (60, 240, '60s') increase(reqs[2m]);
TQL EVAL (0, 240, '60s') sum by (job) (reqs);
TQL EVAL (0, 240, '60s') max_over_time(reqs[2m]);
TQL EVAL (0, 240, '60s') topk(1, reqs);
TQL EVAL (0, 240, '60s') avg(reqs) by (instance);
TQL EVAL (240, 240, '1s') resets(reqs[5m]);
TQL EVAL (0, 240, '60s') reqs offset 1m;

-- family: flow
CREATE TABLE src (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val DOUBLE);
CREATE TABLE sink (cnt BIGINT, total DOUBLE, time_window TIMESTAMP(3) TIME INDEX, update_at TIMESTAMP(3));
CREATE FLOW per_min SINK TO sink AS SELECT count(val) AS cnt, sum(val) AS total, date_bin(INTERVAL '1 minute', ts) AS time_window FROM src GROUP BY time_window;
INSERT INTO src VALUES ('2024-01-01 00:00:00', 'a', 1.0), ('2024-01-01 00:00:30', 'b', 2.0), ('2024-01-01 00:01:10', 'a', 4.0);
ADMIN FLUSH_FLOW('per_min');
SELECT cnt, total, time_window FROM sink ORDER BY time_window;
INSERT INTO src VALUES ('2024-01-01 00:01:20', 'c', 8.0);
ADMIN FLUSH_FLOW('per_min');
SELECT cnt, total, time_window FROM sink ORDER BY time_window;
SELECT flow_name, sink_table_name FROM information_schema.flows;
SHOW FLOWS;
CREATE VIEW big AS SELECT host, val FROM src WHERE val > 1.5;
SELECT * FROM big ORDER BY host, val;
CREATE OR REPLACE VIEW big AS SELECT host, max(val) AS m FROM src GROUP BY host;
SELECT * FROM big ORDER BY host;
DROP VIEW big;
SELECT * FROM big;
COMMENT ON FLOW per_min IS 'per minute rollup';
SHOW CREATE FLOW per_min;
SELECT flow_name, flow_id, table_catalog, flow_definition, comment, expire_after, sink_table_name, options, source_table_names FROM information_schema.flows;
COMMENT ON FLOW missing_flow IS 'x';
CREATE OR REPLACE FLOW per_min SINK TO sink AS SELECT count(val) AS cnt, sum(val) AS total, date_bin(INTERVAL '1 minute', ts) AS time_window FROM src GROUP BY time_window;
SHOW CREATE FLOW per_min;
SELECT flow_name, comment, flow_definition FROM information_schema.flows;
SHOW CREATE FLOW missing_flow;
DROP FLOW per_min;
SHOW FLOWS;

-- family: metric
CREATE TABLE phy (ts TIMESTAMP TIME INDEX, val DOUBLE) ENGINE = metric WITH ("physical_metric_table" = "");
CREATE TABLE cpu_m (ts TIMESTAMP TIME INDEX, val DOUBLE, host STRING PRIMARY KEY) ENGINE = metric WITH ("on_physical_table" = "phy");
CREATE TABLE mem_m (ts TIMESTAMP TIME INDEX, val DOUBLE, host STRING, dc STRING, PRIMARY KEY (host, dc)) ENGINE = metric WITH ("on_physical_table" = "phy");
INSERT INTO cpu_m (ts, val, host) VALUES ('2024-01-01 00:00:00', 1.0, 'a'), ('2024-01-01 00:00:01', 2.0, 'b');
INSERT INTO mem_m (ts, val, host, dc) VALUES ('2024-01-01 00:00:00', 10.0, 'a', 'x');
ALTER TABLE cpu_m ADD COLUMN dc STRING PRIMARY KEY;
INSERT INTO cpu_m (ts, val, host, dc) VALUES ('2024-01-01 00:00:02', 3.0, 'a', 'y');
SELECT * FROM cpu_m ORDER BY ts;
SELECT host, dc, val FROM mem_m;
DESC TABLE phy;
INSERT INTO phy (ts, val) VALUES ('2024-01-01 00:00:00', 1.0);
SELECT table_name, engine FROM information_schema.tables WHERE table_name IN ('phy', 'cpu_m', 'mem_m') ORDER BY table_name;
TQL EVAL (1704067200, 1704067201, '1s') cpu_m;
DROP TABLE cpu_m;
SHOW TABLES;

-- family: json2
CREATE TABLE jt (ts TIMESTAMP(3) TIME INDEX, j JSON2) WITH (append_mode = 'true');
CREATE TABLE jbad (ts TIMESTAMP(3) TIME INDEX, j JSON2);
INSERT INTO jt VALUES (1, '{"a": 1, "b": {"c": "x"}}'), (2, '{"a": 2, "b": {"c": "y"}, "d": [1, 2]}'), (3, '{"a": null}');
SELECT ts, j.a FROM jt ORDER BY ts;
SELECT ts, j.b.c FROM jt ORDER BY ts;
SELECT ts, CAST(j.a AS BIGINT) + 1 AS a1 FROM jt ORDER BY ts;
SELECT count(*) AS n FROM jt WHERE j.b.c = 'y';
SELECT ts, json_get_int(parse_json('{"k": 5}'), 'k') AS k FROM jt ORDER BY ts;

-- family: information_schema
CREATE TABLE is_t (ts TIMESTAMP(3) TIME INDEX, host STRING, dc STRING, v DOUBLE COMMENT 'value', PRIMARY KEY (host, dc));
SELECT table_name, table_type FROM information_schema.tables WHERE table_schema = 'public' ORDER BY table_name;
SELECT column_name, data_type, semantic_type FROM information_schema.columns WHERE table_name = 'is_t' ORDER BY column_name;
SELECT constraint_name, column_name FROM information_schema.key_column_usage WHERE table_name = 'is_t' ORDER BY constraint_name, column_name;
SELECT schema_name FROM information_schema.schemata ORDER BY schema_name;
SHOW COLUMNS FROM is_t;
SHOW CREATE TABLE is_t;
SHOW DATABASES;
USE information_schema;
SELECT count(*) AS n FROM columns WHERE table_name = 'is_t';
CREATE TABLE nope (ts TIMESTAMP TIME INDEX);
USE public;

-- family: functions
CREATE TABLE f (ts TIMESTAMP(3) TIME INDEX, s STRING PRIMARY KEY, x DOUBLE, ip STRING, lat DOUBLE, lon DOUBLE, v STRING);
INSERT INTO f VALUES (1000, 'hello world_test', 1.0, '192.168.1.10', 37.77, -122.41, '[1,2,3]'), (2000, 'café à paris', 5.0, '10.0.0.1', 48.85, 2.35, '[4,5,6]'), (3000, 'x', 3.0, '172.16.0.5', 35.68, 139.69, '[0,0,1]');
SELECT s, initcap(s) AS c, replace(s, 'o', '0') AS r, substr(s, 2, 3) AS p FROM f ORDER BY s;
SELECT to_unixtime('2024-01-01 00:00:00') AS u, date_format(ts, '%Y-%m-%d %H:%M:%S') AS d FROM f ORDER BY d;
SELECT s, clamp(x, 2, 4) AS c, trunc(x * 1.2345, 2) AS t FROM f ORDER BY s;
SELECT date_bin(INTERVAL '2 seconds', ts) AS b, count(*) AS n FROM f GROUP BY b ORDER BY b;
SELECT s, geohash(lat, lon, 6) AS gh FROM f ORDER BY s;
SELECT ip, ipv4_string_to_num(ip) AS n, ipv4_to_cidr(ip, 16) AS c, ipv4_in_range(ip, '10.0.0.0/8') AS r FROM f ORDER BY ip;
SELECT json_get_string(parse_json('{"a": {"b": "c"}}'), 'a.b') AS g, json_path_exists(parse_json('{"a": 1}'), '$.a') AS e;
SELECT uddsketch_calc(0.5, uddsketch_state(128, 0.01, x)) AS p50 FROM f;
SELECT approx_percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS m FROM f;
SELECT approx_percentile_cont_with_weight(x, 0.5) WITHIN GROUP (ORDER BY x) AS w FROM f;
SELECT ts, anomaly_score_zscore(x) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS z FROM f ORDER BY ts;
SELECT ts, anomaly_score_mad(x) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS m FROM f ORDER BY ts;
SELECT s FROM f WHERE matches_term(s, 'world') ORDER BY s;
SELECT s FROM f WHERE s @@ 'paris' ORDER BY s;
SELECT vec_to_string(vec_add(parse_vec(v), parse_vec('[1,1,1]'))) AS a, vec_dot_product(parse_vec(v), parse_vec('[1,0,0]')) AS d FROM f ORDER BY ts;
SELECT vec_l2sq_distance(parse_vec(v), parse_vec('[0,0,0]')) AS l2 FROM f ORDER BY ts;
SET TIME_ZONE = '+08:00';
SELECT to_unixtime('2024-01-01 00:00:00') AS u;
SET TIME_ZONE = 'UTC';
SELECT to_unixtime('2024-01-01 00:00:00') AS u;

-- family: lexical
-- quoted text holding commas, quotes, parens and comment markers, in
-- statements the front door already reads right
CREATE TABLE lex (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, note STRING, val DOUBLE) WITH ('greptime.semantic.entity.process.id' = 'service_name,host', ttl = '7d');
INSERT INTO lex VALUES (0, 'a,b', 'it''s, fine', 1.5), (5000, 'a,b', 'x -- not a comment', 2.5), (0, 'c', '/* not a comment */', 3.5), (5000, 'c', 'a (paren', 4.5);
SELECT host, note, val FROM lex ORDER BY host, ts;
SELECT "host", count(*) AS "n, rows", sum(val) AS "s,um" FROM lex GROUP BY "host" ORDER BY "host";
SELECT note FROM lex WHERE note LIKE '%--%' OR note LIKE '/*%' ORDER BY note;
SELECT ts, max(val) RANGE '5s' AS m FROM lex ALIGN '5s' BY (substr(upper(host), 1, 1)) ORDER BY ts, m;
SELECT ts, host, min(val) RANGE '10s' AS m FROM lex WHERE note <> 'it''s, fine' ALIGN '5s' BY (host) ORDER BY host, ts;
SHOW CREATE TABLE lex;
SELECT host, length(note) AS l FROM lex WHERE host IN ('a,b', 'c') AND note <> '' ORDER BY host, l;

-- family: types
-- every spelling whose rendering holds steady, declared, described, cast and
-- written through a flow sink
CREATE TABLE ty (ts TIMESTAMP(3) TIME INDEX, s STRING PRIMARY KEY, i8 TINYINT, i16 SMALLINT, i16b INT16, i16c INT2, i32 INT, i32b INTEGER, i32c INT32, i32d INT4, i64 BIGINT, i64b INT64, i64c INT8, u8 UINT8, u8b TINYINT UNSIGNED, u16 UINT16, u16b SMALLINT UNSIGNED, u32 UINT32, u32b INT UNSIGNED, u64 UINT64, u64b BIGINT UNSIGNED, f32 FLOAT, f32b FLOAT32, f32c FLOAT4, f64 DOUBLE, f64b FLOAT64, f64c FLOAT8, s2 TEXT, s3 VARCHAR, s4 CHAR, s5 TINYTEXT, s6 MEDIUMTEXT, s7 LONGTEXT, b BINARY, b2 VARBINARY, bo BOOLEAN, bo2 BOOL, d DATE, dt DATETIME, t0 TIMESTAMP(0), t3 TIMESTAMP(3), t6 TIMESTAMP(6), t9 TIMESTAMP(9), t_s TIMESTAMP_S, t_sec TIMESTAMP_SEC, t_ms TIMESTAMP_MS, t_us TIMESTAMP_US, t_ns TIMESTAMP_NS, tsec TIMESTAMPSECOND, tms TIMESTAMPMILLISECOND, tus TIMESTAMPMICROSECOND, tns TIMESTAMPNANOSECOND, dec DECIMAL(10, 2), j JSON, v VECTOR(3));
DESC TABLE ty;
SHOW CREATE TABLE ty;
SHOW FULL COLUMNS FROM ty;
SELECT * FROM information_schema.columns WHERE table_name = 'ty';
INSERT INTO ty (ts, s, i8, u64, dec, b, bo, d, t0, t3, t6, t9, t_s, t_ms, t_us, t_ns) VALUES (1500, 'a', 1, 18446744073709551615, 1.25, 'x', true, '2024-01-02', 1500, 1500, 1500, 1500, 1500, 1500, 1500, 1500);
INSERT INTO ty (ts, s, i8, u64, dec, b, bo, d, t0, t3, t6, t9, t_s, t_ms, t_us, t_ns, dt) VALUES (61500, 'a', 2, 2, 2.5, 'y', false, '2024-01-03', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456', '2024-01-01 00:00:01.123456');
SELECT ts, s, i8, u64, dec, b, bo, d, t0, t3, t6, t9, t_s, t_ms, t_us, t_ns, dt FROM ty ORDER BY ts;
SELECT '1'::TINYINT, '1'::SMALLINT, '1'::INT16, '1'::INT2, '1'::INT, '1'::INTEGER, '1'::INT32, '1'::INT4, '1'::BIGINT, '1'::INT64, '1'::INT8, '1'::UINT8, '1'::UINT16, '1'::UINT32, '1'::UINT64;
SELECT '1.5'::FLOAT, '1.5'::FLOAT32, '1.5'::FLOAT4, '1.5'::DOUBLE, '1.5'::FLOAT64, '1.5'::FLOAT8, '1.5'::DECIMAL(10, 2), 'nan'::DOUBLE, 'nan'::FLOAT64;
SELECT 1::STRING, 1::TEXT, 1::VARCHAR, 1::CHAR, 1::TINYTEXT, 1::MEDIUMTEXT, 1::LONGTEXT, 1::UTF8, 1::LARGEUTF8, 1::UTF8VIEW, 'x'::BINARY, 'x'::VARBINARY, 'x'::BYTEA, 'x'::BLOB, 'true'::BOOLEAN, 'true'::BOOL, '2024-01-02'::DATE, '{"a": 1}'::JSON;
SELECT '2024-01-01 00:00:01.123456'::TIMESTAMP, '2024-01-01 00:00:01.123456'::TIMESTAMP(0), '2024-01-01 00:00:01.123456'::TIMESTAMP(3), '2024-01-01 00:00:01.123456'::TIMESTAMP(6), '2024-01-01 00:00:01.123456'::TIMESTAMP(9), '2024-01-01 00:00:01.123456'::DATETIME;
SELECT '2024-01-01 00:00:01.123456'::TIMESTAMP_S, '2024-01-01 00:00:01.123456'::TIMESTAMP_SEC, '2024-01-01 00:00:01.123456'::TIMESTAMP_MS, '2024-01-01 00:00:01.123456'::TIMESTAMP_US, '2024-01-01 00:00:01.123456'::TIMESTAMP_NS, '2024-01-01 00:00:01.123456'::TIMESTAMPSECOND, '2024-01-01 00:00:01.123456'::TIMESTAMPMILLISECOND, '2024-01-01 00:00:01.123456'::TIMESTAMPMICROSECOND, '2024-01-01 00:00:01.123456'::TIMESTAMPNANOSECOND, 1704067201123::TIMESTAMP;
SELECT arrow_cast('1', 'Int8'), arrow_cast('1', 'Int16'), arrow_cast('1', 'Int32'), arrow_cast('1', 'Int64'), arrow_cast('1', 'UInt8'), arrow_cast('1', 'UInt16'), arrow_cast('1', 'UInt32'), arrow_cast('1', 'UInt64'), arrow_cast('1', 'Float32'), arrow_cast('1', 'Float64'), arrow_cast('1', 'Decimal(10, 2)'), arrow_cast('1', 'Int2'), arrow_cast('1', 'Int4'), arrow_cast('1', 'Float4'), arrow_cast('1', 'Float8');
SELECT arrow_cast(1, 'Utf8'), arrow_cast(1, 'LargeUtf8'), arrow_cast(1, 'Utf8View'), arrow_cast(1, 'String'), arrow_cast(1, 'Text'), arrow_cast('x', 'Binary'), arrow_cast('x', 'Varbinary'), arrow_cast('x', 'Bytea'), arrow_cast('true', 'Boolean'), arrow_cast('2024-01-02', 'Date'), arrow_cast('2024-01-01 00:00:01.123456', 'Timestamp'), arrow_cast('2024-01-01 00:00:01.123456', 'Timestamp_ms'), arrow_cast('2024-01-01 00:00:01.123456', 'TimestampNanosecond'), arrow_cast('2024-01-01 00:00:01.123456', 'Datetime');
SELECT arrow_typeof(CAST(1 AS TINYINT)), arrow_typeof(CAST(1 AS SMALLINT)), arrow_typeof(1), arrow_typeof(CAST(1 AS BIGINT)), arrow_typeof(CAST(1 AS FLOAT)), arrow_typeof(1.5e0), arrow_typeof(1.25), arrow_typeof('a'), arrow_typeof(CAST('a' AS BINARY)), arrow_typeof(true), arrow_typeof(DATE '2024-01-02'), arrow_typeof(TIMESTAMP '2024-01-02 00:00:00'), arrow_typeof(INTERVAL '1' DAY);
SELECT json_get_string(parse_json('{"a": "7"}'), 'a')::INT8, json_get_string(parse_json('{"a": "7"}'), 'a')::FLOAT4, json_get_string(parse_json('{"a": "7"}'), 'a')::TEXT;
CREATE FLOW ty_flow SINK TO ty_sink AS SELECT s, max(i16) AS i16, max(i32) AS i32, max(i64) AS i64, max(f32) AS f32, max(f64) AS f64, max(dec) AS dec, max(b) AS b, max(bo) AS bo, max(d) AS d, max(t6) AS t6, max(s2) AS s2, date_bin(INTERVAL '1 minute', ts) AS w FROM ty GROUP BY s, w;
ADMIN FLUSH_FLOW('ty_flow');
DESC TABLE ty_sink;
SHOW CREATE TABLE ty_sink;
SELECT s, i16, i32, i64, f32, f64, dec, b, bo, d, t6, s2, w FROM ty_sink ORDER BY w;

-- family: columns
-- every path that reads or changes a declared column: CREATE options, LIKE,
-- ALTER ADD/MODIFY/DEFAULT/COMMENT/INDEX, a metric table's tag growth, and
-- DESC, SHOW CREATE, information_schema and a defaults-taking INSERT
CREATE TABLE col_t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY COMMENT 'the host', msg STRING NOT NULL DEFAULT 'none' FULLTEXT INDEX WITH (analyzer = 'English', case_sensitive = 'false'), region STRING SKIPPING INDEX WITH (granularity = '8192'), dc STRING INVERTED INDEX, cpu DOUBLE DEFAULT 0.5, n BIGINT DEFAULT 7 COMMENT 'count');
DESC TABLE col_t;
SHOW CREATE TABLE col_t;
SELECT column_name, ordinal_position, data_type, greptime_data_type, semantic_type, is_nullable, column_default, column_comment, column_key FROM information_schema.columns WHERE table_name = 'col_t';
SHOW INDEX FROM col_t;
INSERT INTO col_t (ts, host) VALUES (1000, 'a');
INSERT INTO col_t (ts, host, msg, cpu) VALUES (2000, 'b', 'hello', 1.5);
SELECT * FROM col_t;
CREATE TABLE col_like LIKE col_t;
SHOW CREATE TABLE col_like;
INSERT INTO col_like (ts, host) VALUES (1000, 'z');
SELECT * FROM col_like;
ALTER TABLE col_t ADD COLUMN first_c INT FIRST;
ALTER TABLE col_t ADD COLUMN after_c STRING DEFAULT 'x' AFTER host;
SET time_zone = '+08:00';
ALTER TABLE col_t ADD COLUMN at TIMESTAMP(3) DEFAULT '2024-01-01 00:00:00';
SET time_zone = 'UTC';
INSERT INTO col_t (ts, host) VALUES (3000, 'c');
SELECT ts, host, first_c, after_c, at FROM col_t;
DESC TABLE col_t;
ALTER TABLE col_t MODIFY COLUMN cpu STRING;
ALTER TABLE col_t MODIFY COLUMN n SET DEFAULT 9;
ALTER TABLE col_t MODIFY COLUMN after_c DROP DEFAULT;
COMMENT ON COLUMN col_t.cpu IS 'load';
ALTER TABLE col_t MODIFY COLUMN region UNSET SKIPPING INDEX;
ALTER TABLE col_t MODIFY COLUMN dc SET SKIPPING INDEX WITH (granularity = '4096');
ALTER TABLE col_t MODIFY COLUMN host SET FULLTEXT INDEX;
SHOW CREATE TABLE col_t;
SELECT column_name, ordinal_position, data_type, column_default, column_comment FROM information_schema.columns WHERE table_name = 'col_t';
SHOW INDEX FROM col_t;
INSERT INTO col_t (ts, host) VALUES (4000, 'd');
SELECT ts, host, cpu, n, after_c, at FROM col_t;
CREATE TABLE col_phy (ts TIMESTAMP TIME INDEX, val DOUBLE) ENGINE = metric WITH ("physical_metric_table" = "", "index.type" = "skipping");
CREATE TABLE col_l1 (ts TIMESTAMP TIME INDEX, val DOUBLE, host STRING PRIMARY KEY) ENGINE = metric WITH ("on_physical_table" = "col_phy");
CREATE TABLE col_l2 (ts TIMESTAMP TIME INDEX, val DOUBLE, host STRING, job STRING, PRIMARY KEY (host, job)) ENGINE = metric WITH ("on_physical_table" = "col_phy");
SHOW CREATE TABLE col_phy;
DESC TABLE col_l2;
SHOW INDEX FROM col_phy;
INSERT INTO col_l2 (ts, val, host, job) VALUES (1000, 1.0, 'h', 'j');
SELECT * FROM col_l2;
SELECT table_name, column_name, semantic_type FROM information_schema.columns WHERE table_name LIKE 'col_%' AND table_name <> 'col_t';

-- family: session
SELECT database();
SELECT timezone();
SHOW VARIABLES time_zone;
SET TIME_ZONE = '+08:00';
SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' AS BIGINT) AS t;
SELECT timezone();
SHOW VARIABLES time_zone;
CREATE TABLE ses (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val DOUBLE);
INSERT INTO ses VALUES (0, 'a', 1.0), (3600000, 'a', 2.0), (57600000, 'b', 3.0), (90000000, 'b', 4.0);
SELECT ts, host, max(val) RANGE '1d' AS mx FROM ses ALIGN '1d' BY (host) ORDER BY host, ts;
SET TIME_ZONE = 'UTC';
SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' AS BIGINT) AS t;
SELECT @@version_comment;
SELECT @@max_execution_time;
SET MAX_EXECUTION_TIME = 1000;
SELECT @@max_execution_time;
SET MAX_EXECUTION_TIME = -1;
SELECT read_preference();
SET read_preference = 'follower';
SELECT read_preference();
SET read_preference = 'nowhere';
SET some_unknown_var = 1;
SHOW WARNINGS;
SELECT 1 AS one;
SHOW WARNINGS;
PREPARE st FROM 'SELECT host, val FROM ses WHERE val > ? ORDER BY val';
EXECUTE st USING 1.5;
DEALLOCATE st;
EXECUTE st USING 1.5;
DECLARE c1 CURSOR FOR SELECT host, val FROM ses ORDER BY val;
FETCH 3 FROM c1;
FETCH 3 FROM c1;
DECLARE c1 CURSOR FOR SELECT 1;
CLOSE c1;
FETCH 1 FROM c1;
CREATE DATABASE sdb WITH (ttl = '7d');
CREATE DATABASE sdb;
SHOW CREATE DATABASE sdb;
ALTER DATABASE sdb SET 'ttl' = '1d';
SHOW CREATE DATABASE sdb;
SHOW FULL DATABASES;
USE sdb;
SELECT database();
CREATE TABLE in_sdb (ts TIMESTAMP(3) TIME INDEX, k STRING PRIMARY KEY, v BIGINT);
SHOW TABLES;
SHOW CREATE TABLE in_sdb;
DROP DATABASE sdb;
USE public;
SHOW TABLES;
SET search_path TO sdb;
SHOW search_path;
DROP DATABASE sdb;
USE public;
SHOW DATABASES;

-- family: views
CREATE TABLE vbase (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val DOUBLE);
INSERT INTO vbase VALUES (0, 'a', 1.0), (1000, 'b', 2.0), (2000, 'c', 3.0);
CREATE VIEW v_all AS SELECT host, val FROM vbase;
SELECT * FROM v_all ORDER BY host;
CREATE VIEW v_cols (h, v) AS SELECT host, val FROM vbase WHERE val > 1;
SELECT h, v FROM v_cols ORDER BY h;
CREATE VIEW v_bad (h) AS SELECT host, val FROM vbase;
CREATE VIEW IF NOT EXISTS v_all AS SELECT host FROM vbase;
SELECT * FROM v_all ORDER BY host;
CREATE VIEW v_all AS SELECT host FROM vbase;
CREATE OR REPLACE VIEW v_all AS SELECT host, val * 2 AS dbl FROM vbase;
SELECT * FROM v_all ORDER BY host;
CREATE VIEW v_nested AS SELECT h FROM v_cols WHERE v > 2;
SELECT * FROM v_nested;
INSERT INTO vbase VALUES (3000, 'd', 4.0);
SELECT * FROM v_nested ORDER BY h;
SELECT count(*) AS n FROM v_all;
SHOW VIEWS;
SHOW TABLES;
SHOW FULL TABLES;
SHOW CREATE VIEW v_cols;
SHOW CREATE VIEW v_all;
SHOW CREATE VIEW v_missing;
SHOW CREATE TABLE v_all;
SHOW COLUMNS FROM v_all;
SELECT table_schema, table_name, view_definition FROM information_schema.views ORDER BY table_name;
SELECT table_schema, table_name, table_type FROM information_schema.tables WHERE table_type = 'VIEW' ORDER BY table_name;
CREATE DATABASE vdb;
USE vdb;
CREATE VIEW v_db AS SELECT 1 AS one;
SELECT * FROM v_db;
USE public;
SELECT table_schema, table_name FROM information_schema.views ORDER BY table_name;
DROP VIEW v_cols;
SELECT * FROM v_cols;
SELECT * FROM v_nested;
DROP VIEW v_cols;
DROP VIEW IF EXISTS v_cols;
CREATE VIEW v_cols AS SELECT host, val FROM vbase WHERE val > 3;
SELECT * FROM v_cols;
SHOW CREATE VIEW v_cols;
SHOW VIEWS;

-- family: userbench (the 8 dashboard panels, from userbench/workloads.py)
