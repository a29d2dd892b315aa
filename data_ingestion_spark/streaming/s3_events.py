"""S3 ObjectCreated event decode — the SQS-message front door.

Reference behavior (src/ecs_service.rs:176-220): each SQS message body is an
S3 event JSON; ``Records[].s3.bucket.name`` + ``Records[].s3.object.key``
name the object. A record missing bucket or key is WARNED and skipped (the
loop continues); a body with no ``Records`` array is warned and skipped; a
body that isn't JSON at all fails the message.

Spark-first rebuild: ``from_json`` with an explicit schema + ``explode`` —
the decode is a narrow JVM projection that runs wherever the message
DataFrame lives (a Kinesis/Kafka/SQS-connector stream at scale, a plain
DataFrame in tests). No Python touches the JSON. Malformed shapes don't
throw: every input row becomes an output row with a ``status`` column
(``ok`` / ``missing_bucket_or_key`` / ``no_records`` / ``invalid_json``),
and ``receive.event_records`` routes the warnings to the audit log — same
information the reference emits as log lines, but as data.

Keys are passed through EXACTLY as the event carries them (the reference
does not URL-decode either — S3 event keys are percent-encoded, so a
caller wanting filesystem paths must unquote; documented fidelity point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Records[].s3.{bucket.name, object.key} — the only fields the reference
#: reads (ecs_service.rs:193-196); from_json ignores any extra fields.
S3_EVENT_SCHEMA = T.StructType(
    [
        T.StructField(
            "Records",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "s3",
                            T.StructType(
                                [
                                    T.StructField(
                                        "bucket",
                                        T.StructType(
                                            [T.StructField("name", T.StringType())]
                                        ),
                                    ),
                                    T.StructField(
                                        "object",
                                        T.StructType(
                                            [T.StructField("key", T.StringType())]
                                        ),
                                    ),
                                ]
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def s3_event_files(
    df: DataFrame, body_col: str = "body", keep: tuple = ()
) -> DataFrame:
    """Decode S3-event JSON bodies to (bucket, key, status) rows.

    One output row per Record (``explode_outer`` keeps bodies that decode
    to no records at all, so nothing silently disappears):

    - ``ok``                    — bucket and key both present
    - ``missing_bucket_or_key`` — a Record without the two fields
      (ecs_service.rs:212 ``warn!``)
    - ``no_records``            — JSON object without a Records array
      (ecs_service.rs:218 ``warn!``)
    - ``invalid_json``          — body from_json could not parse (the
      reference fails the whole message here; as data the caller chooses)

    ``keep`` names extra input columns to carry through unchanged (e.g. the
    SQS MessageId / ReceiptHandle, so the caller can ack per message).
    """
    # from_json in PERMISSIVE mode yields a struct of nulls (not a null
    # struct) for corrupt input, so invalid JSON is detected separately:
    # get_json_object returns null iff the body fails to parse
    passthrough = [F.col(c) for c in keep]
    parsed = df.select(
        *passthrough,
        F.col(body_col).alias("_raw"),
        F.get_json_object(F.col(body_col), "$").isNull().alias("_bad_json"),
        F.from_json(F.col(body_col), S3_EVENT_SCHEMA).alias("_ev"),
    )
    recs = parsed.select(
        *keep,
        "_raw",
        "_bad_json",
        F.explode_outer("_ev.Records").alias("_r"),
    )
    bucket = F.col("_r.s3.bucket.name")
    key = F.col("_r.s3.object.key")
    status = (
        F.when(F.col("_bad_json"), F.lit("invalid_json"))
        .when(F.col("_r").isNull(), F.lit("no_records"))
        .when(bucket.isNull() | key.isNull(), F.lit("missing_bucket_or_key"))
        .otherwise(F.lit("ok"))
    )
    return recs.select(
        *keep, bucket.alias("bucket"), key.alias("key"), status.alias("status")
    )

