"""Schema inference + OTel/BGL parsing (S2, S10, F10, F11, P7).

Capability parity (semantics, not code) with the reference:
* OTel envelope flattening — ``app/services/ingestion_service.py:44-53``:
  ``resourceLogs[0].resource.attributes[key='service.name']``,
  ``scopeLogs[0].logRecords[0].{timeUnixNano, severityText,
  body.stringValue}``; ns→s truncation (F4); malformed dropped (P7).
* OTel/BGL detection heuristics — ``app/services/schema_service.py:17-67``:
  try OTel JSON first, then the BGL fixed-position line regex, else
  fail; canonical output fields ``timestamp/level/service/message``.
* schema registry CRUD — ``app/services/schema_service.py:69-105``
  (SQLite upsert-on-source_name → small parquet table, anti-join+union).

Test strategy: the fixtures carry no OTel/BGL files, so the engine
ROUND-TRIPS — it renders events into the foreign format with column
expressions, parses them back with the real parser, and the DuckDB
oracle recomputes the expected output directly from the source columns
(oracle-by-construction: parse(render(x)) == x).

Scale posture (100 TB): rendering and parsing are pure per-row column
expressions (from_json / regexp_extract inside whole-stage codegen);
detection runs driver-side on a bounded sample (the reference samples
≤100 lines, ``ui.py:197``) — never on the full corpus.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from via_spark.operators.relational import EVENT_SEVERITY
from via_spark.session import load_table, spread

# --- OTel envelope ----------------------------------------------------------

_ATTR = StructType(
    [
        StructField("key", StringType()),
        StructField(
            "value",
            StructType(
                [
                    StructField("stringValue", StringType()),
                    StructField("intValue", LongType()),
                ]
            ),
        ),
    ]
)

OTEL_SCHEMA = StructType(
    [
        StructField(
            "resourceLogs",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "resource",
                            StructType([StructField("attributes", ArrayType(_ATTR))]),
                        ),
                        StructField(
                            "scopeLogs",
                            ArrayType(
                                StructType(
                                    [
                                        StructField(
                                            "logRecords",
                                            ArrayType(
                                                StructType(
                                                    [
                                                        StructField("timeUnixNano", StringType()),
                                                        StructField("severityText", StringType()),
                                                        StructField(
                                                            "body",
                                                            StructType(
                                                                [StructField("stringValue", StringType())]
                                                            ),
                                                        ),
                                                    ]
                                                )
                                            ),
                                        )
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def _severity(ev: DataFrame) -> Column:
    mapping = F.create_map(*[F.lit(x) for kv in EVENT_SEVERITY.items() for x in kv])
    return mapping[ev["event_type"]]


def _body(ev: DataFrame) -> Column:
    return F.concat_ws(
        " ",
        F.concat(ev["event_type"], F.lit(" value="), F.format_string("%.2f", "value")),
        ev["props"],
    )


def otel_envelope_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render events as OTel-JSON envelopes (service.name deliberately
    NOT the first attribute, so the parser must search the array)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    attr = lambda k, v: F.struct(  # noqa: E731
        F.lit(k).alias("key"),
        F.struct(v.alias("stringValue"), F.lit(None).cast("long").alias("intValue")).alias("value"),
    )
    envelope = F.struct(
        F.array(
            F.struct(
                F.struct(
                    F.array(
                        attr("host.name", F.lit("fixture-host")),
                        attr("service.name", F.concat(F.lit("svc_"), ev["user_id"].cast("string"))),
                    ).alias("attributes")
                ).alias("resource"),
                F.array(
                    F.struct(
                        F.array(
                            F.struct(
                                ev["ts"].cast("string").alias("timeUnixNano"),
                                _severity(ev).alias("severityText"),
                                F.struct(_body(ev).alias("stringValue")).alias("body"),
                            )
                        ).alias("logRecords")
                    )
                ).alias("scopeLogs"),
            )
        ).alias("resourceLogs")
    )
    return ev.select("event_id", F.to_json(envelope).alias("raw"))


def otel_flatten(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """S2/F10/F4/P7: parse + flatten one-record OTel envelopes.

    ns→s uses SQL ``div`` (exact 64-bit integer division) — a double
    roundtrip would corrupt epoch-nanosecond magnitudes (> 2^53).
    """
    from via_spark.session import nopush

    # Parse ONCE into a pinned struct column, filter on THAT attribute,
    # extract fields above the filter (r14). The r13 shape filtered on
    # the extracted leaf columns, and Catalyst (a) inlined the whole
    # from_json(to_json(...)) tree into each of the four conditions and
    # (b) pushed that filter below the spread() exchange onto the
    # single-task scan stage — the parse ran 5× per row, the first
    # serially (measured: 2.9 s of otel_roundtrip's 3.0 s wall; stage
    # CPU 18 s with the inlined filter vs ~8 s parsed-once).
    #
    # The guard ``when(spark_partition_id() >= -1, parse)`` is always
    # the parse (the condition is a tautology) but is flagged
    # NON-DETERMINISTIC, which blocks PushPredicateThroughNonJoin from
    # substituting ``_p``'s definition into filter conditions (guide
    # §4.4: that substitution has no expensive-expression guard and
    # re-parsed the JSON once PER CONDITION — measured stage CPU 18 s
    # inlined vs 12 s with 4 inlined conds vs ~8 s parsed once). nopush
    # on the filter additionally blocks the push below the spread()
    # exchange. Net plan: exactly ONE JsonToStructs per row.
    parsed = df.withColumn(
        "_p",
        F.when(
            F.spark_partition_id() >= F.lit(-1),
            F.from_json(F.col(raw_col), OTEL_SCHEMA),
        ),
    )
    rl = F.element_at(F.col("_p.resourceLogs"), 1)
    rec = F.element_at(F.element_at(rl["scopeLogs"], 1)["logRecords"], 1)
    service = F.element_at(
        F.filter(rl["resource"]["attributes"], lambda a: a["key"] == "service.name"), 1
    )["value"]["stringValue"]
    ts_ns = rec["timeUnixNano"].cast("long")
    # P7: malformed records (failed parse / missing required keys) drop
    # out — severity included: a NULL severity would silently collapse
    # rhythm_hash's concat_ws to sha(service) alone, merging buckets.
    # Conditions reference the ``_p`` attribute, so they cost four
    # struct-field reads per row, not four re-parses. ts's null test is
    # on the raw ns value — ``_ts_ns div 1e9`` is null iff _ts_ns is.
    kept = parsed.where(
        nopush(
            service.isNotNull()
            & rec["severityText"].isNotNull()
            & ts_ns.isNotNull()
            & rec["body"]["stringValue"].isNotNull()
        )
    )
    ns_to_s = F.expr(
        "_ts_ns div 1000000000"
    )  # SQL div: exact 64-bit integer division (F4)
    return kept.select(
        *[c for c in df.columns if c != raw_col],
        service.alias("service"),
        rec["severityText"].alias("severity"),
        rec["body"]["stringValue"].alias("body"),
        ts_ns.alias("_ts_ns"),
    ).select(
        *[c for c in df.columns if c != raw_col],
        "service",
        "severity",
        "body",
        ns_to_s.alias("ts"),
    )


def otel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """render → parse → flatten; oracle recomputes from source columns."""
    return otel_flatten(otel_envelope_from_events(spark, sf_dir))


# --- BGL fixed-position lines -----------------------------------------------

# <unix_ts> <date> <node> <time> <device> RAS <sub_component> <level> <message...>
BGL_RE = r"^(\d+) (\S+) (\S+) (\S+) (\S+) RAS (\S+) (\S+) (.*)$"


def bgl_lines_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render events as BGL-style lines (date via pure day arithmetic —
    no timezone can shift it)."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.expr("ts div 1000000000")
    date_str = F.date_format(
        F.date_add(F.lit("1970-01-01").cast("date"), (ts / 86400).cast("int")), "yyyy.MM.dd"
    )
    node = F.concat(F.lit("svc_"), ev["user_id"].cast("string"))
    line = F.concat_ws(
        " ",
        ts.cast("string"),
        date_str,
        node,
        date_str,
        node,
        F.lit("RAS"),
        F.lit("KERNEL"),
        _severity(ev),
        _body(ev),
    )
    return ev.select("event_id", line.alias("line"))


def bgl_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """F11: positional regexp_extract into the canonical
    timestamp/level/service/message fields (service ← node, per the
    reference's inferred mapping)."""
    c = F.col(line_col)
    return df.where(c.rlike(BGL_RE)).select(
        *[x for x in df.columns if x != line_col],
        F.regexp_extract(c, BGL_RE, 1).cast("long").alias("ts"),
        F.regexp_extract(c, BGL_RE, 7).alias("level"),
        F.regexp_extract(c, BGL_RE, 3).alias("service"),
        F.regexp_extract(c, BGL_RE, 8).alias("message"),
    )


def bgl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 roundtrip proof: render events as BGL fixed-position lines,
    then re-parse them with the named-group regex — the parsed columns
    must reproduce the source fields exactly (reference:
    app/services/schema_service.py:51-64)."""
    return bgl_parse(bgl_lines_from_events(spark, sf_dir))


# --- detection heuristics + registry ----------------------------------------

# canonical field → recognized CSV header aliases (beyond-reference
# third source format: header-mapped delimited logs)
CSV_FIELD_ALIASES = {
    "timestamp": ("ts", "time", "timestamp", "unix_ts"),
    "level": ("level", "severity", "loglevel"),
    "service": ("service", "source", "app", "component"),
    "message": ("message", "msg", "body", "text"),
}

_IDENT_RE = r"[A-Za-z_][A-Za-z0-9_]*"


def _detect_csv(sample_lines: list[str]) -> dict | None:
    """Header-mapped CSV: first line is identifier-only column names
    covering all four canonical fields via aliases; body rows keep the
    header's arity."""
    lines = [ln for ln in sample_lines if ln.strip()]
    if not lines or "," not in lines[0]:
        return None
    header = [c.strip() for c in lines[0].strip().split(",")]
    if len(header) < 3 or not all(re.fullmatch(_IDENT_RE, c) for c in header):
        return None
    mapping = {}
    for canon, aliases in CSV_FIELD_ALIASES.items():
        for c in header:
            if c.lower() in aliases:
                mapping[canon] = c
                break
    if set(mapping) != set(CSV_FIELD_ALIASES):
        return None
    if any(ln.count(",") != lines[0].count(",") for ln in lines[1:5]):
        return None
    types = {"timestamp": "datetime", "level": "keyword",
             "service": "keyword", "message": "string"}
    return {
        "source_type": "csv",
        "delimiter": ",",
        "fields": [
            {"name": n, "type": types[n], "source_field": mapping[n]}
            for n in ("timestamp", "level", "service", "message")
        ],
    }


def detect_schema(sample_lines: list[str]) -> dict | None:
    """Heuristic detection on a bounded sample (driver-side, like the
    reference): OTel JSON first, then BGL, then header-mapped CSV,
    else None. Returns the canonical field-mapping schema."""
    for line in sample_lines[:100]:
        line = line.strip()
        if not line:
            continue
        try:
            obj = json.loads(line)
            rec = obj["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
            if "timeUnixNano" in rec:
                return {
                    "source_type": "otel",
                    "fields": [
                        {"name": "timestamp", "type": "datetime",
                         "source_field": "resourceLogs[0].scopeLogs[0].logRecords[0].timeUnixNano"},
                        {"name": "level", "type": "keyword",
                         "source_field": "resourceLogs[0].scopeLogs[0].logRecords[0].severityText"},
                        {"name": "service", "type": "keyword",
                         "source_field": "resource.attributes[service.name]"},
                        {"name": "message", "type": "string",
                         "source_field": "resourceLogs[0].scopeLogs[0].logRecords[0].body.stringValue"},
                    ],
                }
        except (ValueError, KeyError, IndexError, TypeError):
            pass
        if re.match(BGL_RE, line):
            return {
                "source_type": "bgl",
                "fields": [
                    {"name": "timestamp", "type": "datetime", "source_field": "unix_ts"},
                    {"name": "level", "type": "keyword", "source_field": "level"},
                    {"name": "service", "type": "keyword", "source_field": "node"},
                    {"name": "message", "type": "string", "source_field": "message"},
                ],
            }
    return _detect_csv(sample_lines[:100])


COLUMNAR_FORMATS = ("orc", "parquet")


def detect_columnar_schema(spark: SparkSession, path: str) -> dict | None:
    """Columnar onboarding (ORC / Parquet): these carry their own typed
    schema, so detection maps their column NAMES through the same alias
    table the CSV detector uses — only the file FOOTER is read here
    (``spark.read...schema``), never the data. Returns the same
    executable field-mapping dict shape as the line-based detectors."""
    ext = path.rsplit(".", 1)[-1].lower()
    if ext not in COLUMNAR_FORMATS:
        return None
    try:
        cols = spark.read.format(ext).load(path).schema.names
    except Exception:
        return None
    mapping = {}
    for canon, aliases in CSV_FIELD_ALIASES.items():
        for c in cols:
            if c.lower() in aliases:
                mapping[canon] = c
                break
    if set(mapping) != set(CSV_FIELD_ALIASES):
        return None
    types = {"timestamp": "datetime", "level": "keyword",
             "service": "keyword", "message": "string"}
    return {
        "source_type": ext,
        "fields": [
            {"name": n, "type": types[n], "source_field": mapping[n]}
            for n in ("timestamp", "level", "service", "message")
        ],
    }


REGISTRY_SCHEMA = StructType(
    [
        StructField("source_name", StringType()),
        StructField("schema_json", StringType()),
    ]
)


def save_schema(spark: SparkSession, path: str, source_name: str, schema: dict) -> None:
    """S10 upsert-on-source_name (anti-join + union, full rewrite of the
    tiny registry table)."""
    import os

    new = spark.createDataFrame([(source_name, json.dumps(schema, sort_keys=True))], REGISTRY_SCHEMA)
    # ONLY a missing registry means "start fresh"; any other read error
    # must propagate — absorbing it would overwrite the whole registry
    # with this single entry
    if os.path.exists(path):
        existing = spark.read.schema(REGISTRY_SCHEMA).parquet(path)
        merged = existing.join(new, "source_name", "left_anti").unionByName(new)
    else:
        merged = new
    # Tiny registry: snapshot on the driver, write from the snapshot —
    # the overwrite can then never race the lazy plan reading this path
    # (cache eviction between count and write would recompute from the
    # truncated source and lose the registry).
    snap = spark.createDataFrame(merged.collect(), REGISTRY_SCHEMA)
    snap.write.mode("overwrite").parquet(path)


def read_with_schema(spark: SparkSession, schema: dict, path: str) -> DataFrame:
    """Use a detected/saved schema to read a raw log file into the
    canonical columns — closes the onboarding loop (detect → save →
    READ): the registry entry is executable, not just stored metadata.
    Dispatches on ``source_type`` to the matching parser over a plain
    distributed text scan (line formats) or a native columnar scan
    (ORC / Parquet — column-pruned to the four mapped fields, so the
    scan reads only what the mapping needs)."""
    stype = schema.get("source_type")
    if stype in COLUMNAR_FORMATS:
        fm = {f["name"]: f["source_field"] for f in schema["fields"]}
        df = spark.read.format(stype).load(path)
        # a native timestamp column becomes epoch seconds (NTZ first
        # pinned to the UTC session); string/long go through try_cast
        # (malformed → NULL → P7 row drop below)
        if dict(df.dtypes).get(fm["timestamp"], "").startswith("timestamp"):
            ts_col = (
                F.col(fm["timestamp"]).cast("timestamp_ltz").cast("long")
            )
        else:
            ts_col = F.col(fm["timestamp"]).try_cast("long")
        parsed = df.select(
            F.col(fm["service"]).cast("string").alias("service"),
            F.col(fm["level"]).cast("string").alias("severity"),
            F.col(fm["message"]).cast("string").alias("body"),
            ts_col.alias("ts"),
        )
        return parsed.where(
            F.col("service").isNotNull()
            & F.col("severity").isNotNull()
            & F.col("body").isNotNull()
            & F.col("ts").isNotNull()
        )
    raw = spark.read.text(path)
    if stype == "otel":
        return otel_flatten(raw, raw_col="value")
    if stype == "bgl":
        parsed = bgl_parse(raw, line_col="value")
        # align with the otel_flatten output contract (ts/severity/
        # service/body) so downstream tier1 derivation is source-agnostic
        return parsed.select(
            "service",
            F.col("level").alias("severity"),
            F.col("message").alias("body"),
            "ts",
        )
    if stype == "csv":
        fm = {f["name"]: f["source_field"] for f in schema["fields"]}
        csv = (
            spark.read.option("header", "true")
            .option("sep", schema.get("delimiter", ","))
            .csv(path)
        )
        parsed = csv.select(
            F.col(fm["service"]).alias("service"),
            F.col(fm["level"]).alias("severity"),
            F.col(fm["message"]).alias("body"),
            # try_cast: a malformed timestamp is a malformed ROW (P7
            # filter below), not a query-killing ANSI cast error
            F.col(fm["timestamp"]).try_cast("long").alias("ts"),
        )
        # P7: rows missing any canonical field (or a non-numeric ts) drop
        return parsed.where(
            F.col("service").isNotNull()
            & F.col("severity").isNotNull()
            & F.col("body").isNotNull()
            & F.col("ts").isNotNull()
        )
    raise ValueError(f"unknown source_type: {stype!r}")


def get_schema(spark: SparkSession, path: str, source_name: str) -> dict | None:
    import os

    if not os.path.exists(path):
        return None
    rows = (
        spark.read.schema(REGISTRY_SCHEMA).parquet(path)
        .where(F.col("source_name") == source_name)
        .collect()
    )
    return json.loads(rows[0]["schema_json"]) if rows else None


def list_schemas(spark: SparkSession, path: str) -> list[str]:
    import os

    if not os.path.exists(path):
        return []
    return sorted(
        r["source_name"]
        for r in spark.read.schema(REGISTRY_SCHEMA).parquet(path).select("source_name").collect()
    )


def ingest_reject_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-quality observability for the malformed-record filter
    (P7, reference: ingestion_service.py's silent drop): plant
    deterministic corruption into rendered OTel envelopes — every
    ``event_id % 7 == 0`` loses its severityText key, ``% 7 == 1``
    gets a non-numeric timeUnixNano — re-parse, and report HOW MANY
    records each reject reason claims next to the survivors. The
    reference drops malformed records silently; this is the per-reason
    breakdown an operator actually pages on.

    The corruption is planted (the fixture renders well-formed, like
    the PII scrub's planted emails) so every classification branch is
    exercised and the oracle can mirror the distribution exactly.

    Scale posture: stateless render→corrupt→parse projection (one
    scan, whole-stage codegen around the JSON kernels) into a
    3-key hash agg.
    """
    raw = otel_envelope_from_events(spark, sf_dir)
    corrupted = raw.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0,
            F.regexp_replace(F.col("raw"), r'"severityText":"[^"]*",', ""),
        )
        .when(
            F.col("event_id") % 7 == 1,
            F.regexp_replace(
                F.col("raw"), r'"timeUnixNano":"\d+"', '"timeUnixNano":"not_a_ts"'
            ),
        )
        .otherwise(F.col("raw"))
        .alias("raw"),
    )
    parsed = corrupted.withColumn("_p", F.from_json(F.col("raw"), OTEL_SCHEMA))
    rl = F.element_at(F.col("_p.resourceLogs"), 1)
    rec = F.element_at(F.element_at(rl["scopeLogs"], 1)["logRecords"], 1)
    reason = (
        F.when(rec["severityText"].isNull(), F.lit("missing_severity"))
        .when(rec["timeUnixNano"].try_cast("long").isNull(), F.lit("bad_ts"))
        .otherwise(F.lit("ok"))
    )
    return (
        parsed.select(reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
