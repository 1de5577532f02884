"""End-to-end tests for the changefeed pipeline over the edge-case rows
mandated by FIXTURES.md §2 (each case is a branch the reference takes in
sf_pubsub.py:603-789). They run the plan every pipeline runs, filtered
on ``deliver``: the rows the webhook receives. The change-feed
analytics over the events table (offset gaps, tombstone audit) and the
snapshot diff follow, each against a brute-force recount."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.operators.changefeed import changefeed_with_delivery_flag
from flash_cdc_spark.schemas import DECODED_CHANGE_EVENT, WEBHOOK_PAYLOAD
from flash_cdc_spark.tables import load_table

TOPIC = "/data/OpportunityChangeEvent"
URL = "https://example.my.salesforce.com"


def _event(entity="Opportunity", change="UPDATE", ids=(), ts=1_700_000_000_000,
           flag=None, flag_arr=None, other=None, amount=None):
    return (
        {"entityName": entity, "changeType": change, "recordIds": list(ids),
         "commitTimestamp": ts},
        flag,
        list(flag_arr) if flag_arr is not None else None,
        other,
        amount,
    )


@pytest.fixture(scope="module")
def run(spark):
    def _run(rows, drop_before_ms=None):
        df = spark.createDataFrame(rows, DECODED_CHANGE_EVENT)
        out = changefeed_with_delivery_flag(
            df, TOPIC, URL, drop_before_ms=drop_before_ms
        ).filter("deliver")
        # the posted body, parsed back into the payload struct
        payload = F.from_json("payload_json", WEBHOOK_PAYLOAD).alias("payload")
        return out.select("*", payload).collect()

    return _run


def test_scalar_flag_broadcasts_to_all_record_ids(run):
    rows = run([_event(ids=["a", "b", "c"], flag="true")])
    assert sorted(r["record_id"] for r in rows) == ["a", "b", "c"]


@pytest.mark.smoke
def test_list_flag_aligns_positionally(run):
    rows = run([_event(ids=["a", "b", "c"], flag_arr=["true", "false", "true"])])
    assert sorted(r["record_id"] for r in rows) == ["a", "c"]


def test_short_list_out_of_range_is_null_and_dropped(run):
    rows = run([_event(ids=["a", "b"], flag_arr=["true"])])
    assert [r["record_id"] for r in rows] == ["a"]


def test_empty_record_ids_skipped(run):
    assert run([_event(ids=[], flag="true")]) == []


def test_null_record_ids_skipped(run):
    ev = ({"entityName": "O", "changeType": "UPDATE", "recordIds": None,
           "commitTimestamp": 1}, "true", None, None, None)
    assert run([ev]) == []


def test_flag_false_empty_garbage_null_all_dropped(run):
    rows = run(
        [
            _event(ids=["f"], flag="false"),
            _event(ids=["e"], flag=""),
            _event(ids=["g"], flag="maybe"),
            _event(ids=["n"], flag=None),
            _event(ids=["z"], flag="0"),
        ]
    )
    assert rows == []


def test_flag_truthy_variants_delivered(run):
    rows = run(
        [
            _event(ids=["r1"], flag="true"),
            _event(ids=["r2"], flag="TRUE "),
            _event(ids=["r3"], flag="1"),
            _event(ids=["r4"], flag="yes"),
            _event(ids=["r5"], flag="y"),
        ]
    )
    assert sorted(r["record_id"] for r in rows) == ["r1", "r2", "r3", "r4", "r5"]


def test_timestamp_units_normalized(run):
    ns, ms, s = 1_700_000_000_000_000_000, 1_700_000_000_000, 1_700_000_000
    rows = run(
        [
            _event(ids=["ns"], flag="true", ts=ns),
            _event(ids=["ms"], flag="true", ts=ms),
            _event(ids=["s"], flag="true", ts=s),
            _event(ids=["tiny"], flag="true", ts=42),
        ]
    )
    got = {r["record_id"]: r["commit_ms"] for r in rows}
    assert got == {"ns": ns // 1_000_000, "ms": ms, "s": s * 1000, "tiny": 42}


def test_since_mode_drops_old_but_keeps_new_and_null_ts(run):
    cutoff = 1_700_000_000_000
    rows = run(
        [
            _event(ids=["old"], flag="true", ts=cutoff - 1),
            _event(ids=["new"], flag="true", ts=cutoff + 1),
            # tiny value normalizes to 42 < cutoff → dropped (reference
            # compares normalized ms against cutoff)
            _event(ids=["tiny"], flag="true", ts=42),
        ],
        drop_before_ms=cutoff,
    )
    assert sorted(r["record_id"] for r in rows) == ["new"]


def test_dropped_events_keep_one_undeliverable_row(spark):
    """Unfiltered, an event the reference skips without posting keeps
    exactly one row, with ``deliver`` false: the row that carries its
    cursor to the offset mirror."""
    cutoff = 1_700_000_000_000
    null_ids = ({"entityName": "null-ids", "changeType": "UPDATE", "recordIds": None,
                 "commitTimestamp": cutoff}, "true", None, None, None)
    rows = [
        _event(entity="since-dropped", ids=["old"], flag="true", ts=cutoff - 1),
        _event(entity="empty-ids", ids=[], flag="true"),
        null_ids,
    ]
    df = spark.createDataFrame(rows, DECODED_CHANGE_EVENT)
    out = changefeed_with_delivery_flag(df, TOPIC, URL, drop_before_ms=cutoff).collect()
    assert sorted((r["entity_name"], r["deliver"]) for r in out) == [
        ("empty-ids", False), ("null-ids", False), ("since-dropped", False)
    ]


def test_webhook_payload_shape(run):
    rows = run([_event(ids=["006xx0001"], flag="true")])
    (row,) = rows
    payload = row["payload"].asDict(recursive=True)
    assert payload == {
        "data": [
            {"Id": "006xx0001", "subscriptionTopic": TOPIC, "instanceUrl": URL}
        ]
    }
    assert '"Id":"006xx0001"' in row["payload_json"]


def test_record_pos_preserved(run):
    rows = run([_event(ids=["a", "b", "c"], flag_arr=["true", "true", "true"])])
    got = {r["record_id"]: r["record_pos"] for r in rows}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_offset_gaps_match_bruteforce(spark, sf_dir, query_run):
    out = {
        r["event_type"]: r
        for r in query_run("q_changefeed_offset_gaps").rows
    }
    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id")
        .collect()
    )
    import collections

    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r["event_id"])
    for t, ids in by_type.items():
        ids.sort()
        gaps = [b - a - 1 for a, b in zip(ids, ids[1:])]
        assert out[t]["n_deliveries"] == len(gaps)
        assert out[t]["n_gaps"] == sum(1 for g in gaps if g > 0)
        assert out[t]["max_gap"] == max(gaps)
        assert out[t]["skipped_offsets"] == sum(gaps)


def test_tombstone_audit_matches_bruteforce(spark, sf_dir, query_run):
    row = query_run("q_changefeed_tombstone_audit").rows[0]
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    from collections import defaultdict

    seqs = defaultdict(list)
    ref = max(r["ts"] for r in e)
    for r in e:
        seqs[r["user_id"]].append(
            (r["ts"], r["event_id"], 1 if r["event_type"] == "error" else 0)
        )
    tomb = first_del = resurr = gc = 0
    for u, ops in seqs.items():
        ops.sort()
        flags = [d for _, _, d in ops]
        tomb += flags[-1]
        first_del += flags[0]
        resurr += sum(
            1 for p, c in zip(flags, flags[1:]) if p == 1 and c == 0
        )
        if flags[-1] and (ref - ops[-1][0]).total_seconds() > 48 * 3600:
            gc += 1
    assert row["n_keys"] == len(seqs)
    assert row["n_tombstoned"] == tomb
    assert row["n_delete_first"] == first_del
    assert row["n_resurrections"] == resurr
    assert row["n_gc_eligible"] == gc
    assert tomb > 0  # the audit is non-vacuous on the fixture


# --- snapshot diff --------------------------------------------------


def _diff(spark, old_rows, new_rows):
    from flash_cdc_spark.operators.snapshot import snapshot_diff

    schema = "k long, status string, price double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = snapshot_diff(old, new, key_cols=["k"], compare_cols=["status", "price"])
    return {r["k"]: r.asDict() for r in out.collect()}


def test_snapshot_diff_classification(spark):
    got = _diff(
        spark,
        [(1, "O", 10.0), (2, "O", 20.0), (3, "F", 30.0)],
        [(1, "O", 10.0), (2, "F", 20.0), (4, "O", 40.0)],
    )
    assert got[1]["change_type"] == "unchanged"
    assert got[2]["change_type"] == "changed"
    assert (got[2]["chg_status"], got[2]["chg_price"]) == (1, 0)
    assert got[3]["change_type"] == "deleted"
    assert got[4]["change_type"] == "added"
    # added/deleted rows never set column flags
    assert got[3]["chg_status"] == got[4]["chg_status"] == 0


def test_snapshot_diff_null_safe(spark):
    got = _diff(
        spark,
        [(1, None, 1.0), (2, None, 2.0)],
        [(1, None, 1.0), (2, "X", 2.0)],
    )
    assert got[1]["change_type"] == "unchanged"  # null == null
    assert got[2]["change_type"] == "changed" and got[2]["chg_status"] == 1


def test_snapshot_diff_multi_column_change(spark):
    got = _diff(spark, [(1, "A", 1.0)], [(1, "B", 2.0)])
    assert got[1]["change_type"] == "changed"
    assert (got[1]["chg_status"], got[1]["chg_price"]) == (1, 1)
