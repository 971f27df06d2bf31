"""Config layering (zeno_spark/configfile.py) — the reference's
Flags > Env > YAML > defaults precedence (config/config.go:98-156,
viper semantics), plus the flat-YAML subset parser."""

from __future__ import annotations

import dataclasses
import re
import subprocess
import sys
from pathlib import Path

import pytest

from zeno_spark.config import CrawlConfig
from zeno_spark.configfile import layered_defaults, parse_simple_yaml

_PKG = Path(__file__).resolve().parents[1] / "zeno_spark"


def test_every_crawl_config_field_is_read():
    """A CrawlConfig field that no module reads is an option that changes
    nothing.  Every field must be read somewhere in the package outside
    config.py, as an attribute (``cfg.name``) or by quoted name."""
    src = "\n".join(
        p.read_text() for p in _PKG.rglob("*.py")
        if p != _PKG / "config.py"
    )
    unread = [
        f.name for f in dataclasses.fields(CrawlConfig)
        if not re.search(rf"\.{f.name}\b|[\"']{f.name}[\"']", src)
    ]
    assert unread == []


def test_yaml_subset_scalars_lists_comments(tmp_path):
    text = """\
# crawl shape
rounds: 6
per-host-budget: 32        # dashes normalize to snake_case
strategy: lifo
bloom: false
proxy: "http://proxy:3128"
bypass-proxy: [a.example, b.example]
excluded-hosts:
  - c.example
  - d.example
ratio: 0.25
nothing: null
"""
    got = parse_simple_yaml(text)
    assert got == {
        "rounds": 6, "per_host_budget": 32, "strategy": "lifo",
        "bloom": False, "proxy": "http://proxy:3128",
        "bypass_proxy": ["a.example", "b.example"],
        "excluded_hosts": ["c.example", "d.example"],
        "ratio": 0.25, "nothing": None,
    }


def test_yaml_subset_rejects_nested_mapping():
    with pytest.raises(ValueError, match="nested"):
        parse_simple_yaml("outer:\n  inner: 1\n")


def test_hash_inside_values_is_not_a_comment():
    got = parse_simple_yaml(
        'user-agent: "zeno/1.0 (#42; +https://example.com/bot)"\n'
        "seed: http://x.example/page#frag\n"
        "budget: 8  # trailing comment still trims\n"
        "note: 'single #quoted'\n"
        "bot-name: O'Reilly bot  # apostrophe mid-value is not a quote\n"
        "hosts:\n"
        "  - 'a#b.example'  # quoted list item\n"
        'inline: ["x #y", \'p#q\']  # quoted inline-list items\n'
    )
    assert got == {
        "user_agent": "zeno/1.0 (#42; +https://example.com/bot)",
        "seed": "http://x.example/page#frag",
        "budget": 8,
        "note": "single #quoted",
        "bot_name": "O'Reilly bot",
        "hosts": ["a#b.example"],
        "inline": ["x #y", "p#q"],
    }


def test_unterminated_quote_fails_loudly():
    with pytest.raises(ValueError, match="unterminated"):
        parse_simple_yaml('ua: "zeno (\n')


def test_precedence_env_over_file_over_default(tmp_path):
    cfg = tmp_path / "zeno-config.yaml"
    cfg.write_text("rounds: 6\nstrategy: lifo\nbloom: false\n")
    base = {"rounds": 8, "strategy": "fifo", "bloom": True,
            "per_host_budget": 16, "bypass_proxy": []}
    merged = layered_defaults(
        base, yaml_path=str(cfg),
        env={"ZENO_ROUNDS": "3", "ZENO_BYPASS_PROXY": "x.example,y.example",
             "OTHER_VAR": "ignored"},
    )
    assert merged["rounds"] == 3           # env beats file
    assert merged["strategy"] == "lifo"    # file beats default
    assert merged["bloom"] is False        # file-set bool coerced
    assert merged["per_host_budget"] == 16  # default survives
    assert merged["bypass_proxy"] == ["x.example", "y.example"]


def test_unknown_file_key_fails_loudly(tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text("per-host-budgett: 5\n")
    with pytest.raises(ValueError, match="unknown config keys"):
        layered_defaults({"per_host_budget": 16}, yaml_path=str(cfg), env={})


def test_cli_flag_beats_env_and_file_end_to_end(tmp_path):
    """Drive run_crawl.py's real parser: an explicit flag wins over both
    layers; an unset flag takes the env value over the file value."""
    cfg = tmp_path / "c.yaml"
    cfg.write_text("rounds: 6\nper-host-budget: 9\n"
                   f"warehouse: {tmp_path}/wh\nsynthetic-pages: 300\n")
    code = (
        "import sys, runpy, argparse\n"
        "sys.argv = ['run_crawl.py', '--config', sys.argv[1],"
        " '--rounds', '2']\n"
        "import run_crawl\n"
        "orig = argparse.ArgumentParser.parse_args\n"
        "def spy(self, *a, **k):\n"
        "    ns = orig(self, *a, **k)\n"
        "    if hasattr(ns, 'warehouse'):\n"
        "        print('PARSED', ns.rounds, ns.per_host_budget,"
        " ns.max_hops, ns.warehouse)\n"
        "        sys.exit(0)\n"
        "    return ns\n"
        "argparse.ArgumentParser.parse_args = spy\n"
        "run_crawl.main()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(cfg)],
        capture_output=True, text=True, cwd="/root/repo",
        env={"PATH": "/usr/bin:/bin", "ZENO_PER_HOST_BUDGET": "7",
             "HOME": "/root", "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("PARSED"))
    _, rounds, budget, hops, wh = line.split()
    assert rounds == "2"      # explicit flag wins
    assert budget == "7"      # env beats file (file said 9)
    assert hops == "3"        # untouched default
    assert wh == f"{tmp_path}/wh"  # file supplies required option


# ---------------------------------------------------------------------------
# Consul remote tier (configfile.fetch_consul_yaml / layered_defaults)
# ---------------------------------------------------------------------------

def _fake_consul(kv: dict[str, str]):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class H(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            path, _, query = self.path.partition("?")
            key = path.removeprefix("/v1/kv/")
            if query != "raw" or key not in kv:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = kv[key].encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_consul_layer_precedence(tmp_path):
    """Flags > Env > Consul > File > defaults (config.go:125-144: the
    remote provider is read AFTER the local file, so its values shadow
    the file's at the config layer; env still wins above both)."""
    srv, addr = _fake_consul({
        "zeno/config.yaml": "per-host-budget: 32\nmax-hops: 5\n"})
    try:
        cfg = tmp_path / "c.yaml"
        cfg.write_text("per-host-budget: 8\nrounds: 3\n")
        merged = layered_defaults(
            {"per_host_budget": 16, "max_hops": 3, "rounds": 8},
            yaml_path=str(cfg),
            env={"ZENO_MAX_HOPS": "7"},
            consul=(addr, "zeno/config.yaml"),
        )
        assert merged == {
            "per_host_budget": 32,   # consul shadows the file's 8
            "max_hops": 7,           # env shadows consul's 5
            "rounds": 3,             # file only
        }
    finally:
        srv.shutdown()


def test_consul_unknown_key_and_missing_doc_fail_loudly():
    import pytest

    srv, addr = _fake_consul({"zeno/config.yaml": "not-an-option: 1\n"})
    try:
        with pytest.raises(ValueError, match="unknown config keys"):
            layered_defaults({"per_host_budget": 16}, env={},
                             consul=(addr, "zeno/config.yaml"))
        with pytest.raises(RuntimeError, match="consul KV read failed"):
            layered_defaults({"per_host_budget": 16}, env={},
                             consul=(addr, "zeno/absent.yaml"))
    finally:
        srv.shutdown()
    # unreachable agent: loud, never a silent default-run
    with pytest.raises(RuntimeError, match="consul KV read failed"):
        layered_defaults({"per_host_budget": 16}, env={},
                         consul=("http://127.0.0.1:9", "zeno/config.yaml"))
