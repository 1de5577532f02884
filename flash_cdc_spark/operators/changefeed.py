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
P4    ``since`` drop filter (621-628)                event-time filter
P5    empty-recordIds guard (660-668)                ``size(recordIds) > 0``
P6    per-recordId explode (676)                     ``posexplode``
P7    positional list alignment (679-682)            ``element_at`` compat expr
P8    truthy normalization (690-716)                 :func:`truthy_flag`
P9    flag-is-True filter (718-727)                  ``flag_norm <=> true``
P10   webhook payload projection (736-744)           ``to_json(struct(...))``
====  =============================================  =======================

Dropped rows (P4/P5/P9) never suppress offset progress: Structured
Streaming checkpoints per micro-batch regardless of filters, which is
exactly the reference's "skip but still advance replay id" behavior.

Scale note: the pipeline is narrow (no shuffle at all) — filters,
projections and a generator (posexplode). On a cluster it runs embarrass-
ingly parallel over source partitions; Catalyst pushes the ``since``
cutoff and the ``size(recordIds)`` guard ahead of the explode so the
generator only sees surviving events.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flash_cdc_spark.functions.normalize import normalize_commit_ms, truthy_flag

__all__ = [
    "normalize_header",
    "explode_records",
    "align_positional",
    "filter_flagged",
    "project_webhook_payload",
    "changefeed_with_delivery_flag",
    "changefeed_pipeline",
]

HEADER = "ChangeEventHeader"


def normalize_header(df: DataFrame, drop_before_ms: int | None = None) -> DataFrame:
    """P2+P3+P4: project header fields, normalize the commit timestamp to
    epoch-ms, and (``since`` mode) drop events older than the cutoff.

    The cutoff comparison uses the *normalized* ms value, as the reference
    does (``sf_pubsub.py:621-628`` compares ``commit_ms < drop_before_ms``).
    Events with an un-parseable timestamp have ``commit_ms`` null; the
    reference only drops when ``commit_ms is not None and commit_ms <
    cutoff``, so nulls survive — replicated via a null-tolerant predicate.
    """
    out = df.withColumns(
        {
            "entity_name": F.col(f"{HEADER}.entityName"),
            "change_type": F.col(f"{HEADER}.changeType"),
            "commit_ms": normalize_commit_ms(F.col(f"{HEADER}.commitTimestamp")),
        }
    )
    if drop_before_ms is not None:
        out = out.filter(
            F.col("commit_ms").isNull() | (F.col("commit_ms") >= F.lit(drop_before_ms))
        )
    return out


def explode_records(df: DataFrame) -> DataFrame:
    """P5+P6: drop events with null/empty ``recordIds`` (offset still
    advances — see module docstring), then emit one row per record id with
    its position preserved (needed for P7 alignment)."""
    return df.filter(F.size(F.col(f"{HEADER}.recordIds")) > 0).select(
        "*", F.posexplode(F.col(f"{HEADER}.recordIds")).alias("record_pos", "record_id")
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


def filter_flagged(df: DataFrame, flag_col: str = "flag_value") -> DataFrame:
    """P8+P9: normalize the flag leniently, keep rows where it is exactly
    true (``flash_field_normalized is not True → skip``,
    ``sf_pubsub.py:718-727``). Null-safe equality (``<=>``) so null
    normalized values drop instead of filtering to unknown."""
    return df.withColumn("flag_norm", truthy_flag(F.col(flag_col))).filter(
        F.col("flag_norm").eqNullSafe(F.lit(True))
    )


def project_webhook_payload(
    df: DataFrame, topic: Column | str, instance_url: Column | str
) -> DataFrame:
    """P10: shape the webhook body
    ``{"data":[{"Id","subscriptionTopic","instanceUrl"}]}``
    (``sf_pubsub.py:736-744``) — kept as a struct column plus a JSON
    rendering for the HTTP sink."""
    topic_c = F.lit(topic) if isinstance(topic, str) else topic
    url_c = F.lit(instance_url) if isinstance(instance_url, str) else instance_url
    payload = F.struct(
        F.array(
            F.struct(
                F.col("record_id").alias("Id"),
                topic_c.alias("subscriptionTopic"),
                url_c.alias("instanceUrl"),
            )
        ).alias("data")
    )
    return df.withColumn("payload", payload).withColumn("payload_json", F.to_json(payload))


def changefeed_with_delivery_flag(
    decoded: DataFrame,
    topic: str,
    instance_url: str,
    drop_before_ms: int | None = None,
    scalar_flag_col: str = "FlashField__c",
    array_flag_col: str = "FlashField__c_arr",
    passthrough: tuple[str, ...] = ("replay_seq",),
) -> DataFrame:
    """Variant that KEEPS dropped rows with a ``deliver`` flag instead of
    filtering them — the shape every pipeline's webhook sink reads: the
    reference advances the replay cursor for since-dropped, empty-ids,
    and flag-false events alike (``sf_pubsub.py:621-668``, ``752-780``),
    so the sink must see every event's cursor even when nothing is
    posted. Uses ``posexplode_outer`` so empty/null ``recordIds`` events
    survive as one non-deliverable row (the only rows whose
    ``record_pos`` is null); a null element inside ``recordIds`` is
    delivered as ``{"Id": null}``, as in :func:`changefeed_pipeline`."""
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
        "flag_value", align_positional(scalar_flag_col, array_flag_col, "record_pos")
    ).withColumn("flag_norm", truthy_flag(F.col("flag_value")))
    deliver = (
        since_ok
        & F.col("record_pos").isNotNull()
        & F.col("flag_norm").eqNullSafe(F.lit(True))
    )
    df = df.withColumn("deliver", deliver)
    df = project_webhook_payload(df, topic, instance_url)
    keep = [c for c in passthrough if c in decoded.columns]
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


def changefeed_pipeline(
    decoded: DataFrame,
    topic: str,
    instance_url: str,
    drop_before_ms: int | None = None,
    scalar_flag_col: str = "FlashField__c",
    array_flag_col: str = "FlashField__c_arr",
) -> DataFrame:
    """Full P2→P10 pipeline over a decoded change-event DataFrame
    (batch or streaming) in the canonical FIXTURES.md §2 shape.

    Returns one row per *delivered* record id with columns:
    ``record_id, entity_name, change_type, commit_ms, record_pos,
    payload (struct), payload_json (string)``.
    """
    df = normalize_header(decoded, drop_before_ms=drop_before_ms)
    df = explode_records(df)
    df = df.withColumn(
        "flag_value", align_positional(scalar_flag_col, array_flag_col, "record_pos")
    )
    df = filter_flagged(df, "flag_value")
    df = project_webhook_payload(df, topic, instance_url)
    return df.select(
        "record_id",
        "entity_name",
        "change_type",
        "commit_ms",
        "record_pos",
        "payload",
        "payload_json",
    )
