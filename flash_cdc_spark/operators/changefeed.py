"""The change-feed operator pipeline — the reference's semantic core,
re-expressed as declarative DataFrame transformations.

Reference execution order (``app/services/sf_pubsub.py:603-789``), one
Python loop iteration per event; here each step is a column expression or
relational operator so the whole pipeline runs inside whole-stage codegen
and works identically on a batch DataFrame or a streaming DataFrame:

====  =============================================  =======================
step  reference                                      here
====  =============================================  =======================
P2    header field access (616-633)                  nested-struct projection
P3    ``_normalize_commit_ms`` (215-227)             :func:`normalize_commit_ms`
P4    ``since`` drop filter (621-628)                ``deliver`` conjunct
P5    empty-recordIds guard (660-668)                ``deliver`` conjunct
P6    per-recordId explode (676)                     ``posexplode_outer``
P7    positional list alignment (679-682)            ``element_at`` compat expr
P8    truthy normalization (690-716)                 :func:`truthy_flag`
P9    flag-is-True filter (718-727)                  ``deliver`` conjunct
P10   webhook payload projection (736-744)           ``to_json(struct(...))``
====  =============================================  =======================

The three drops (P4/P5/P9) are not filters: each row carries them as
one ``deliver`` flag, and a record or event the reference skips keeps
a non-deliverable row. The reference advances the replay cursor past
skipped events (``sf_pubsub.py:621-668``, ``752-780``), so the webhook
sink and the offset mirror must see every event's cursor even when
nothing is posted. ``.filter("deliver")`` gives exactly the rows the
reference posts; that is the form the DuckDB oracle checks.

Scale note: the pipeline is narrow (no shuffle at all) — projections
and a generator (``posexplode_outer``). On a cluster it runs embarrass-
ingly parallel over source partitions; under ``.filter("deliver")``
Catalyst pushes the ``since`` conjunct ahead of the explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flash_cdc_spark.functions.normalize import normalize_commit_ms, truthy_flag

__all__ = [
    "normalize_header",
    "align_positional",
    "webhook_payload",
    "changefeed_with_delivery_flag",
]

HEADER = "ChangeEventHeader"
# FIXTURES.md §2: the flag arrives as a scalar or as a per-record list
SCALAR_FLAG, ARRAY_FLAG = "FlashField__c", "FlashField__c_arr"


def normalize_header(df: DataFrame) -> DataFrame:
    """P2+P3: project header fields and normalize the commit timestamp
    to epoch-ms (null when it cannot be parsed)."""
    return df.withColumns(
        {
            "entity_name": F.col(f"{HEADER}.entityName"),
            "change_type": F.col(f"{HEADER}.changeType"),
            "commit_ms": normalize_commit_ms(F.col(f"{HEADER}.commitTimestamp")),
        }
    )


def align_positional(
    scalar: Column | str, arr: Column | str, pos: Column | str = "record_pos"
) -> Column:
    """P7: reunify the scalar-vs-list duality of a payload field.

    The reference (``sf_pubsub.py:679-682``): if the field value is a
    list, take ``value[idx]`` for record index ``idx`` (out-of-range →
    null); a scalar broadcasts to every record id. Fixtures encode the
    variant in two columns (exactly one non-null) per FIXTURES.md §2.
    ``element_at`` is 1-based; out-of-range returns null under
    ``ansi=false``, matching the reference's ``IndexError → None``.
    """
    scalar_c = F.col(scalar) if isinstance(scalar, str) else scalar
    arr_c = F.col(arr) if isinstance(arr, str) else arr
    pos_c = F.col(pos) if isinstance(pos, str) else pos
    return F.when(arr_c.isNotNull(), F.try_element_at(arr_c, pos_c + F.lit(1))).otherwise(
        scalar_c
    )


def webhook_payload(topic: Column | str, instance_url: Column | str) -> Column:
    """P10: the webhook body
    ``{"data":[{"Id","subscriptionTopic","instanceUrl"}]}`` for the
    row's ``record_id`` (``sf_pubsub.py:736-744``), as a struct. The
    plan posts its JSON rendering, ``payload_json``; it does not carry
    the struct, because ``foreachBatch`` materializes every column of a
    micro-batch whether the writer reads it or not."""
    topic_c = F.lit(topic) if isinstance(topic, str) else topic
    url_c = F.lit(instance_url) if isinstance(instance_url, str) else instance_url
    return F.struct(
        F.array(
            F.struct(
                F.col("record_id").alias("Id"),
                topic_c.alias("subscriptionTopic"),
                url_c.alias("instanceUrl"),
            )
        ).alias("data")
    )


def changefeed_with_delivery_flag(
    decoded: DataFrame,
    topic: str,
    instance_url: str,
    drop_before_ms: int | None = None,
) -> DataFrame:
    """Full P2→P10 pipeline over a decoded change-event DataFrame
    (batch or streaming) in the canonical FIXTURES.md §2 shape.

    Returns one row per record id, plus one row for each event with
    null or empty ``recordIds`` (``posexplode_outer``; the only rows
    whose ``record_pos`` is null), with columns ``replay_seq`` (when
    the input has it), ``record_id, entity_name, change_type,
    commit_ms, record_pos, deliver, payload_json``. ``deliver`` is true
    exactly for the records the reference posts; ``drop_before_ms`` is
    the ``since``-mode cutoff, compared against the *normalized* ms
    value, and an event whose timestamp cannot be parsed survives it,
    as in the reference (``commit_ms is not None and commit_ms <
    cutoff``). A null element inside ``recordIds`` is delivered as
    ``{"Id": null}``."""
    df = normalize_header(decoded)
    since_ok = (
        F.lit(True)
        if drop_before_ms is None
        else F.col("commit_ms").isNull() | (F.col("commit_ms") >= F.lit(drop_before_ms))
    )
    df = df.select(
        "*",
        F.posexplode_outer(F.col(f"{HEADER}.recordIds")).alias("record_pos", "record_id"),
    )
    df = df.withColumn(
        "flag_value", align_positional(SCALAR_FLAG, ARRAY_FLAG, "record_pos")
    ).withColumn("flag_norm", truthy_flag(F.col("flag_value")))
    deliver = (
        since_ok
        & F.col("record_pos").isNotNull()
        & F.col("flag_norm").eqNullSafe(F.lit(True))
    )
    df = df.withColumns(
        {"deliver": deliver, "payload_json": F.to_json(webhook_payload(topic, instance_url))}
    )
    keep = ["replay_seq"] if "replay_seq" in decoded.columns else []
    return df.select(
        *keep,
        "record_id",
        "entity_name",
        "change_type",
        "commit_ms",
        "record_pos",
        "deliver",
        "payload_json",
    )
