"""CLI entry point (`python -m flash_cdc_spark`) — list/query wiring
in-process, serve smoke-tested as a real subprocess (it blocks by
design), and the stored-item → PipelineConfig mapping."""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

from flash_cdc_spark.__main__ import _configs_from_items, main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_list_filters_and_marks_oracle(capsys):
    assert main(["list", "--filter", "q01"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary\toracle" in out
    assert "q_events_sketches" not in out
    assert main(["list", "--filter", "q_events_sketches"]) == 0
    assert "rows-only" in capsys.readouterr().out


def test_cli_query_json_rows(spark, sf_dir, tmp_path, capsys):
    # the CLI builds its own DataFrame, so it runs on a copy of the
    # tables the query reads: the session's one build stays query_run's
    for table in ("customer", "supplier"):
        shutil.copyfile(
            os.path.join(sf_dir, f"{table}.parquet"), tmp_path / f"{table}.parquet"
        )
    rc = main(
        ["query", "q_set_ops_nations", "--sf-dir", str(tmp_path), "--json", "--limit", "3"]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert 1 <= len(lines) <= 3
    assert all(isinstance(json.loads(l), dict) for l in lines)
    # unknown query → rc 2, not a traceback
    assert main(["query", "q_nope", "--sf-dir", sf_dir]) == 2


def test_configs_from_items_maps_stored_columns():
    items = [
        {
            "id": 7,
            "client_name": "c7",
            "topic_name": "/data/X",
            "webhook_url": "http://u",
            "instance_url": None,
            "source_path": "/s",
            "checkpoint_root": "/c",
            "flow_batch_size": 42,
            "is_active": True,
            "offsets_path": None,
        }
    ]
    (cfg,) = _configs_from_items(items)
    assert (cfg.id, cfg.name, cfg.topic) == (7, "c7", "/data/X")
    assert cfg.instance_url == "" and cfg.source_format == "parquet"
    assert cfg.flow_batch_size == 42 and cfg.is_active


def test_cli_serve_subprocess_smoke(tmp_path):
    """Real `python -m flash_cdc_spark serve` process: prints its URL,
    answers the status and list routes, dies cleanly on SIGINT."""
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "flash_cdc_spark",
            "serve",
            "--config-path",
            str(tmp_path / "configs"),
            "--port",
            "0",
        ],
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        url = None
        deadline = time.time() + 120
        while time.time() < deadline:
            line = proc.stdout.readline()
            m = re.search(r"listening on (http://\S+)", line or "")
            if m:
                url = m.group(1)
                break
        assert url, "serve never printed its URL"
        with urllib.request.urlopen(f"{url}/clients/", timeout=30) as resp:
            page = json.loads(resp.read())
        assert page == {"items": [], "total": 0, "limit": 50, "offset": 0}
        # SIGTERM (the systemd/k8s stop signal) must drain cleanly:
        # supervisors stopped, exit code 0 — not a killed process
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.send_signal(signal.SIGINT)
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
