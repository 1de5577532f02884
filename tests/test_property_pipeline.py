"""Property-based test (SURVEY.md §5.2): randomized schema-conformant
events through the normalize→explode→align→filter pipeline vs a
~30-line pure-Python oracle transcribed from the reference's loop
(sf_pubsub.py:215-227, 621-628, 660-682, 690-727)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flash_cdc_spark.operators.changefeed import changefeed_with_delivery_flag
from flash_cdc_spark.schemas import DECODED_CHANGE_EVENT

# ---- python oracle (transcribed reference semantics) ----------------------


def _normalize_commit_ms(val):
    try:
        x = int(val)
    except (TypeError, ValueError):
        return None
    if x > 10**14:
        return x // 1_000_000
    if x > 10**11:
        return x
    if x > 10**9:
        return x * 1000
    return x


def _truthy(value):
    if value is None:
        return None
    s = str(value).lower().strip()
    if s in ("true", "1", "yes", "y"):
        return True
    if s in ("false", "0", "no", "n", ""):
        return False
    try:
        return float(s) != 0.0
    except ValueError:
        return None


def python_oracle(events, drop_before_ms=None):
    delivered = []
    for header, scalar, arr, _other, _amount in events:
        commit_ms = _normalize_commit_ms(header["commitTimestamp"])
        if (
            drop_before_ms is not None
            and commit_ms is not None
            and commit_ms < drop_before_ms
        ):
            continue  # dropped, offset still advances
        record_ids = header["recordIds"] or []
        for idx, rid in enumerate(record_ids):
            if arr is not None:
                flag = arr[idx] if idx < len(arr) else None
            else:
                flag = scalar
            if _truthy(flag) is True:
                delivered.append((rid, idx, commit_ms))
    return sorted(delivered, key=_null_first)


def _null_first(row):
    """Sort key for rows that may hold None: None sorts before values."""
    return tuple((v is not None, v) for v in row)


# ---- strategies ------------------------------------------------------------

flag_strings = st.one_of(
    st.none(),
    st.sampled_from(
        ["true", "TRUE ", "True", "1", "yes", "y", "false", "0", "no", "n", "",
         "maybe", "2.5", "0.0", "-3", "nan", "garbage", "  YES  "]
    ),
)

timestamps = st.one_of(
    st.integers(min_value=0, max_value=5 * 10**18),
    st.sampled_from([42, 10**9, 10**9 + 1, 10**11, 10**11 + 1, 10**14, 10**14 + 1]),
)

_event_ids = st.integers(min_value=0, max_value=10**6)


@st.composite
def events_strategy(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    events = []
    for i in range(n):
        n_ids = draw(st.integers(min_value=0, max_value=4))
        # a null element inside recordIds is delivered as {"Id": null}
        ids = [draw(st.sampled_from([f"r{i}_{k}", None])) for k in range(n_ids)]
        use_arr = draw(st.booleans())
        if use_arr:
            arr_len = draw(st.integers(min_value=0, max_value=5))
            arr = [draw(flag_strings) for _ in range(arr_len)]
            scalar = None
        else:
            arr = None
            scalar = draw(flag_strings)
        events.append(
            (
                {
                    "entityName": "E",
                    "changeType": "UPDATE",
                    "recordIds": ids,
                    "commitTimestamp": draw(timestamps),
                },
                scalar,
                arr,
                None,
                None,
            )
        )
    return events


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy(), use_cutoff=st.booleans())
def test_pipeline_matches_python_oracle(spark, events, use_cutoff):
    """The plan every pipeline runs, filtered on ``deliver``, delivers
    the oracle's records."""
    cutoff = 1_700_000_000_000 if use_cutoff else None
    df = spark.createDataFrame(events, DECODED_CHANGE_EVENT)
    expected = python_oracle(events, cutoff)
    out = changefeed_with_delivery_flag(
        df, "/t", "https://u", drop_before_ms=cutoff
    ).filter("deliver")
    got = sorted(
        ((r["record_id"], r["record_pos"], r["commit_ms"]) for r in out.collect()),
        key=_null_first,
    )
    assert got == expected


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    out_w=st.integers(min_value=1, max_value=40),
    out_h=st.integers(min_value=1, max_value=40),
    did=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=200, deadline=None)
def test_resize_pgm_property(w, h, out_w, out_h, did):
    """resize_pgm over ANY (source, target) geometry — including
    upsampling and degenerate 1-pixel axes: the output re-parses as a
    valid PGM of exactly the target size, and every output pixel
    equals the source pixel at the nearest-neighbor coordinates."""
    from flash_cdc_spark.operators.multimodal import parse_pgm, resize_pgm

    src_px = bytes(
        (7 * did + 13 * x + 29 * y) % 256
        for y in range(h)
        for x in range(w)
    )
    blob = f"P5\n{w} {h}\n255\n".encode() + src_px
    resized = resize_pgm(blob, out_w, out_h)
    rw, rh, maxval, raster = parse_pgm(resized)
    assert (rw, rh, maxval) == (out_w, out_h, 255)
    for y in range(out_h):
        for x in range(out_w):
            sx, sy = (x * w) // out_w, (y * h) // out_h
            assert raster[y * out_w + x] == src_px[sy * w + sx], (x, y)
