"""CLI surface parity — flag->config mapping (pure) + one tiny end-to-end
run over the fabric (console and JSONL modes)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "httpz_cli",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "httpz_cli.py"),
)
cli = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cli)


def test_flag_to_config_mapping():
    args = cli.parse_args([
        "doms.txt", "-sc", "-ti", "-tls", "-mc", "200,301-303",
        "-ec", "500", "-sh", "2/5", "-hd", "X-A: 1,X-B: 2",
        "-pd", "k=v", "-c", "42", "-to", "9", "-rt", "3", "-rb", "0.25",
    ])
    cfg = cli.build_scan_config(args)
    assert cfg.fetch_title and cfg.fetch_tls and not cfg.fetch_body
    assert cfg.match_codes == frozenset({200, 301, 302, 303})
    assert cfg.exclude_codes == frozenset({500})
    assert cfg.shard == (1, 5)  # 1-based "2/5" -> 0-based (parsers.py:277-290)
    assert cfg.custom_headers == (("X-A", "1"), ("X-B", "2"))
    assert cfg.post_data == "k=v"
    assert cfg.concurrent_limit == 42 and cfg.timeout == 9.0
    assert cfg.retries == 3 and cfg.retry_backoff == 0.25

    show = cli.show_fields_of(args)
    assert show["status_code"] and show["title"] and show["tls"]
    assert not show["body"] and not show["favicon"]


def test_all_flags_turns_everything_on():
    args = cli.parse_args(["doms.txt", "-all"])
    cfg = cli.build_scan_config(args)
    assert all([cfg.fetch_headers, cfg.fetch_content_type,
                cfg.fetch_content_length, cfg.fetch_title, cfg.fetch_body,
                cfg.fetch_favicon, cfg.fetch_tls, cfg.fetch_ips,
                cfg.fetch_cname, cfg.follow_redirects])
    assert all(cli.show_fields_of(args).values())


def test_transport_selection():
    from httpz_spark.sources.nettransport import AsyncioTransport

    assert cli.transport_factory_of(
        cli.parse_args(["doms.txt", "--transport", "fabric"])) is None
    factory = cli.transport_factory_of(cli.parse_args(
        ["doms.txt", "--transport", "asyncio", "-to", "7", "-c", "13"]))
    t = factory()  # construction opens no socket
    try:
        assert isinstance(t, AsyncioTransport)
        assert t.timeout_s == 7.0 and t.concurrent_limit == 13
    finally:
        t.close()
    with pytest.raises(SystemExit):
        cli.parse_args(["doms.txt", "--transport", "aiohttp"])


def test_cli_end_to_end_console_and_jsonl(spark, tmp_path, capsys):
    seeds = tmp_path / "doms.txt"
    seeds.write_text("h1.test\nh2.test\n\nh3.test\n")

    rc = cli.main([str(seeds), "-sc", "-ti", "--partitions", "4"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) >= 1  # error rows hidden without -d
    assert all("[" in ln for ln in out)  # status segment rendered

    # -p: running 1-based counter prefixed to each rendered console row
    # (reference cli.py:82,166-180); jsonl mode bypasses it
    rc = cli.main([str(seeds), "-sc", "-ti", "-p", "--partitions", "4"])
    assert rc == 0
    plines = capsys.readouterr().out.strip().splitlines()
    assert plines == [f"[{i}] {ln}" for i, ln in enumerate(out, start=1)]

    rc = cli.main([str(seeds), "-all", "-j", "--partitions", "4"])
    assert rc == 0
    import json

    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert rows and all("domain" in r for r in rows)

    out_file = tmp_path / "out.jsonl"
    rc = cli.main([str(seeds), "-all", "-o", str(out_file), "--partitions", "4"])
    assert rc == 0
    assert os.path.isdir(out_file) or out_file.exists()
