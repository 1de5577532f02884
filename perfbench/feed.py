"""Change-event envelopes and the expected deliveries for them.

- :func:`envelope_line` wraps a JSON payload in a flashfeed JSONL line;
- :func:`expected_records` derives the record ids a correct pipeline
  delivers for one payload, with a pure-Python copy of the program's
  truthy rule — independent of its Spark expressions.
"""

from __future__ import annotations

import json

TOPIC = "/data/OpportunityChangeEvent"
INSTANCE_URL = "https://flash.example.com"

_TRUE_TOKENS = ("true", "1", "yes", "y")
_FALSE_TOKENS = ("false", "0", "no", "n", "")


def truthy(value) -> bool | None:
    """Trim spaces and lowercase; listed tokens map to True/False, other
    numbers to ``!= 0``, anything else (and null) to None."""
    if value is None:
        return None
    s = str(value).strip(" ").lower()
    if s in _TRUE_TOKENS:
        return True
    if s in _FALSE_TOKENS:
        return False
    try:
        return float(s) != 0.0
    except ValueError:
        return None


def envelope_line(seq: int, payload: str) -> str:
    return json.dumps({
        "event_id": f"evt-{seq}",
        "replay_seq": seq,
        "topic_name": TOPIC,
        "schema_id": "default",
        "payload": payload,
    }) + "\n"


def expected_records(payload: str) -> tuple[int, list[str]]:
    """(records exploded, record ids delivered) for one event payload,
    with no ``since`` cutoff."""
    decoded = json.loads(payload)
    ids = (decoded.get("ChangeEventHeader") or {}).get("recordIds") or []
    arr = decoded.get("FlashField__c_arr")
    out = []
    for pos, rid in enumerate(ids):
        if arr is not None:
            flag = arr[pos] if pos < len(arr) else None
        else:
            flag = decoded.get("FlashField__c")
        if truthy(flag) is True:
            out.append(rid)
    return len(ids), out


def delivered_id(body: str) -> str:
    return json.loads(body)["data"][0]["Id"]
