"""Seeded inputs and their ground truth.

Every input is a pure function of (seed, workload parameters). It is
written once into the benchmark's work directory under a key built from
those values, with its ground-truth per-sink row counts stored beside it,
so later runs with the same key skip generation.

Transcript rows come from ``watchman_spark.synth.gen_conversation`` (the
generator behind ``synth_transcripts``), which labels each row with the
sink the router must send it to; the per-sink truth is the tally of those
labels, exactly as ``synth.compute_golden`` tallies them. The parse_wide
corpus has its own line families (below), each labelled with its sink.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from watchman_spark.config import DEFAULT_PATTERNS
from watchman_spark.synth import (
    EPOCH_2025,
    ROLES,
    VOCAB,
    SynthParams,
    gen_conversation,
    stable_hash,
)

# Sizes for a 4-core host: one warm parse_wide run takes about 4-5 s, and
# a warm stream epoch about 2 s. A file dropped every 4 s is half the rate
# the stream sustains at one file an epoch, so a host running 1.5 times
# slower still leaves each file an epoch to itself instead of queueing it
# behind the last one.
WIDE = dict(n_convs=1000, turns=40)  # 40k turns, uniform lengths
STREAM = dict(convs_per_file=40, turns=25, interval_s=4.0)  # ~1k turns per file
N_PART_FILES = 8

ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


@dataclass(frozen=True)
class UniformParams(SynthParams):
    """SynthParams with near-uniform conversation lengths (no hot key):
    1..2*turns turns each, drawn from the seed."""

    turns: int = 25

    def conv_len(self, j: int) -> int:
        return 1 + stable_hash(self.seed, "len", j) % (2 * self.turns)


@dataclass
class InputSet:
    """One cached input: parquet part files plus ground truth."""

    dir: str
    files: list[str]
    per_sink: dict[str, int]  # summed over all files
    file_sinks: list[dict[str, int]]  # per file, same order as ``files``
    file_convs: list[int]  # conversations per file
    turns: int
    gen_s: float  # generation time in this run, 0.0 when served from cache
    gen_cost_s: float  # what generating this input took when it was made

    @property
    def convs(self) -> int:
        return sum(self.file_convs)


def _key(name: str, params: dict) -> str:
    blob = json.dumps({"name": name, **params}, sort_keys=True)
    return f"{name}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def _write_part(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[]] * 6
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        },
        schema=ARROW_SCHEMA,
    )
    pq.write_table(table, path)


def _materialize(work: str, name: str, params: dict, make_parts) -> InputSet:
    """Serve ``name``/``params`` from the cache, or generate it with
    ``make_parts() -> [(rows, sink_counts, n_convs)]`` and cache it."""
    d = os.path.join(work, "inputs", _key(name, params))
    meta_path = os.path.join(d, "truth.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        file_sinks, file_convs = [], []
        for k, (rows, sinks, convs) in enumerate(make_parts()):
            _write_part(os.path.join(tmp, f"part-{k:05d}.parquet"), rows)
            file_sinks.append(sinks)
            file_convs.append(convs)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump({"params": params, "file_sinks": file_sinks, "file_convs": file_convs,
                       "gen_s": time.perf_counter() - t0}, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        gen_s = time.perf_counter() - t0
    else:
        gen_s = 0.0
    with open(meta_path) as f:
        meta = json.load(f)
    files = [os.path.join(d, f"part-{k:05d}.parquet") for k in range(len(meta["file_sinks"]))]
    return _input_set(d, files, meta["file_sinks"], meta["file_convs"], gen_s, meta["gen_s"])


def _input_set(d, files, file_sinks, file_convs, gen_s, gen_cost_s) -> InputSet:
    per_sink: dict[str, int] = {}
    for fs in file_sinks:
        for s, n in fs.items():
            per_sink[s] = per_sink.get(s, 0) + n
    return InputSet(d, files, per_sink, file_sinks, file_convs, sum(per_sink.values()), gen_s, gen_cost_s)


def head(inp: InputSet, k: int) -> InputSet:
    """The input's first ``k`` files alone."""
    return _input_set(inp.dir, inp.files[:k], inp.file_sinks[:k], inp.file_convs[:k], 0.0, 0.0)


def _synth_parts(params: SynthParams, n_files: int):
    """Conversation j goes to file j % n_files."""
    parts: list[tuple[list, dict, int]] = [([], {}, 0) for _ in range(n_files)]
    for j in range(params.n_convs):
        rows, sinks, convs = parts[j % n_files]
        for conv_id, i, role, text, tool, ts_us, sink in gen_conversation(params, j):
            rows.append((conv_id, i, role, text, tool, ts_us))
            sinks[sink] = sinks.get(sink, 0) + 1
        parts[j % n_files] = (rows, sinks, convs + 1)
    return parts


def stream_files(work: str, seed: int, n_files: int) -> InputSet:
    """``n_files`` small transcript files with disjoint conversations, so
    the stream's (conv_id, turn_idx) dedup keeps every row."""
    p = STREAM
    params = dict(seed=seed, n_files=n_files, convs_per_file=p["convs_per_file"], turns=p["turns"])
    up = UniformParams(seed=seed, n_convs=n_files * p["convs_per_file"], turns=p["turns"])
    return _materialize(work, "stream", params, lambda: _synth_parts(up, n_files))


# -- parse_wide --------------------------------------------------------------
# Twenty line families and 61 capture groups: the program's two default
# patterns (the pipeline's aggregates read their latency_ms and err_ms
# groups) and eighteen more with three groups each. Half of the eighteen
# are anchored on a literal tag, half open with a character class, so the
# regex engine also pays for unanchored scans over free text. Every family
# carries a keyword no other family or free-text line contains, so a line
# matches exactly its own pattern. (name, sink, regex, types, template)
_W = r"[a-z]+"
_TOOL_CALL, _ERROR = DEFAULT_PATTERNS
FAMILIES: tuple[tuple[str, str, str, dict, str], ...] = (
    ("tool_call", "tool_calls", _TOOL_CALL.regex, _TOOL_CALL.types, "[tool:{w}] invoked args={d} latency_ms={n} status={st}"),
    ("error", "errors", _ERROR.regex, _ERROR.types, "ERROR E{s3}: {w} {w} after {n}ms"),
    ("auth_ok", "security", r"\[auth\] user=(?P<au_user>{w}) method=(?P<au_method>{w}) took=(?P<au_ms>\d+)ms", {"au_ms": "int"}, "[auth] user={w} method={w} took={n}ms"),
    ("auth_fail", "security", r"(?P<af_user>{w})@(?P<af_host>{w})\.local denied code=(?P<af_code>\d+)", {"af_code": "int"}, "{w}@{w}.local denied code={n}"),
    ("firewall", "security", r"\[fw\] drop src=(?P<fw_src>\d+\.\d+\.\d+\.\d+) port=(?P<fw_port>\d+) proto=(?P<fw_proto>{w})", {"fw_port": "int"}, "[fw] drop src={ip} port={n} proto={w}"),
    ("disk_io", "storage", r"(?P<dk_dev>sd[a-z]) iowait=(?P<dk_wait>\d+) queue=(?P<dk_q>\d+)", {"dk_wait": "int", "dk_q": "int"}, "sd{c} iowait={n} queue={n}"),
    ("disk_full", "storage", r"\[fs\] volume (?P<fs_vol>{w}) at (?P<fs_pct>\d+)% of (?P<fs_cap>\d+)GB", {"fs_pct": "int", "fs_cap": "int"}, "[fs] volume {w} at {n}% of {n}GB"),
    ("cache", "storage", r"(?P<ca_name>{w}) cache hit=(?P<ca_hit>\d+) miss=(?P<ca_miss>\d+)", {"ca_hit": "int", "ca_miss": "int"}, "{w} cache hit={n} miss={n}"),
    ("net_rx", "network", r"\[net\] iface=(?P<nx_if>eth\d) rx=(?P<nx_rx>\d+) tx=(?P<nx_tx>\d+)", {"nx_rx": "int", "nx_tx": "int"}, "[net] iface=eth{d} rx={n} tx={n}"),
    ("dns", "network", r"resolve (?P<dn_name>{w})\.(?P<dn_tld>com|org|net) in (?P<dn_ms>\d+)ms", {"dn_ms": "int"}, "resolve {w}.{tld} in {n}ms"),
    ("http", "network", r"(?P<ht_verb>GET|PUT|POST) /(?P<ht_path>{w}) status=(?P<ht_status>\d{{3}})", {"ht_status": "int"}, "{verb} /{w} status={s3}"),
    ("panic", "errors", r"\[panic\] module=(?P<pn_mod>{w}) line=(?P<pn_line>\d+) sig=(?P<pn_sig>{w})", {"pn_line": "int"}, "[panic] module={w} line={n} sig={w}"),
    ("exc", "errors", r"(?P<ex_type>{w})Exception: (?P<ex_msg>{w}) at frame (?P<ex_frame>\d+)", {"ex_frame": "int"}, "{W}Exception: {w} at frame {n}"),
    ("oom", "errors", r"\[oom\] pid=(?P<om_pid>\d+) rss=(?P<om_rss>\d+)MB killer=(?P<om_who>{w})", {"om_pid": "int", "om_rss": "int"}, "[oom] pid={n} rss={n}MB killer={w}"),
    ("gc", "perf", r"(?P<gc_kind>young|full) gc paused (?P<gc_ms>\d+)ms freed (?P<gc_mb>\d+)MB", {"gc_ms": "int", "gc_mb": "int"}, "{gck} gc paused {n}ms freed {n}MB"),
    ("cpu", "perf", r"\[cpu\] core=(?P<cp_core>\d+) util=(?P<cp_util>\d+) temp=(?P<cp_temp>\d+)C", {"cp_core": "int", "cp_util": "int", "cp_temp": "int"}, "[cpu] core={d} util={n} temp={n}C"),
    ("latency", "perf", r"(?P<lt_svc>{w}) p99 latency (?P<lt_p99>\d+)us over (?P<lt_n>\d+) calls", {"lt_p99": "int", "lt_n": "int"}, "{w} p99 latency {n}us over {n} calls"),
    ("job_start", "jobs", r"\[job\] start id=(?P<js_id>\d+) owner=(?P<js_owner>{w}) pool=(?P<js_pool>{w})", {"js_id": "int"}, "[job] start id={n} owner={w} pool={w}"),
    ("job_end", "jobs", r"task (?P<je_task>\d+) of job (?P<je_job>\d+) finished as (?P<je_state>{w})", {"je_task": "int", "je_job": "int"}, "task {n} of job {n} finished as {w}"),
    ("deploy", "jobs", r"(?P<dp_app>{w}) rolled to v(?P<dp_ver>\d+) by (?P<dp_user>{w})", {"dp_ver": "int"}, "{w} rolled to v{n} by {w}"),
)
WIDE_DEFAULT_SINK = "conversational"
MATCH_PCT = 40  # share of lines drawn from a family; 1% null, the rest free text


def wide_config() -> dict:
    """The parse_wide registry and routes in ``config.load_config``'s
    JSON shape: one route per sink, testing each family's first group."""
    patterns, routes = [], {}
    for name, sink, regex, types, _tpl in FAMILIES:
        rx = regex if "{w}" not in regex else regex.format(w=_W)
        patterns.append({"name": name, "regex": rx, "types": types})
        first = rx.split("(?P<", 1)[1].split(">", 1)[0]
        routes.setdefault(sink, []).append(f"parsed.{first} IS NOT NULL")
    return {
        "patterns": patterns,
        "routes": [{"sink": s, "when": " OR ".join(c)} for s, c in routes.items()],
        "default_sink": WIDE_DEFAULT_SINK,
    }


def write_wide_config(work: str) -> str:
    path = os.path.join(work, "parse_wide_config.json")
    with open(path, "w") as f:
        json.dump(wide_config(), f, indent=1)
    return path


def _wide_line(h: int) -> tuple[str | None, str]:
    """One text line and its sink from a 64-bit hash."""
    pick = h % 100
    if pick < 1:
        return None, WIDE_DEFAULT_SINK
    if pick >= 100 - MATCH_PCT:
        _name, sink, _rx, _types, tpl = FAMILIES[(h >> 8) % len(FAMILIES)]
        bits = [h >> 13]

        def draw(n: int) -> int:
            bits[0] = stable_hash(bits[0], n)
            return bits[0] % n

        fill = {
            "w": lambda: VOCAB[draw(32)],
            "W": lambda: VOCAB[draw(32)].capitalize(),
            "n": lambda: str(draw(100000)),
            "d": lambda: str(draw(10)),
            "c": lambda: "abcdefgh"[draw(8)],
            "s3": lambda: str(100 + draw(500)),
            "ip": lambda: ".".join(str(draw(256)) for _ in range(4)),
            "tld": lambda: ("com", "org", "net")[draw(3)],
            "verb": lambda: ("GET", "PUT", "POST")[draw(3)],
            "gck": lambda: ("young", "full")[draw(2)],
            "st": lambda: ("ok", "err")[draw(2)],
        }
        out, rest = [], tpl
        while "{" in rest:
            pre, tail = rest.split("{", 1)
            field, rest = tail.split("}", 1)
            out += [pre, fill[field]()]
        return "".join(out) + rest, sink
    n_words = 5 + (h >> 8) % 11
    return "note: " + " ".join(VOCAB[(h >> (3 * k + 12)) % 32] for k in range(n_words)), WIDE_DEFAULT_SINK


def _wide_parts(seed: int, n_convs: int, turns: int, n_files: int):
    parts: list[tuple[list, dict, int]] = [([], {}, 0) for _ in range(n_files)]
    for j in range(n_convs):
        rows, sinks, convs = parts[j % n_files]
        parts[j % n_files] = (rows, sinks, convs + 1)
        conv_id = f"conv{j:08d}"
        t = stable_hash(seed, "convstart", j) % (86400 * 30)
        for i in range(turns):
            h = stable_hash(seed, conv_id, i)
            t += 1 + (h >> 40) % 120
            text, sink = _wide_line(h)
            rows.append((conv_id, i, ROLES[h % 5], text, None, (EPOCH_2025 + t) * 1_000_000))
            sinks[sink] = sinks.get(sink, 0) + 1
    return parts


def wide_corpus(work: str, seed: int, n_convs: int = WIDE["n_convs"]) -> InputSet:
    """Uniform conversation lengths, no hot key, 20 line families."""
    spec = json.dumps([wide_config(), FAMILIES, MATCH_PCT], sort_keys=True)
    params = dict(WIDE, seed=seed, n_convs=n_convs, spec=hashlib.sha256(spec.encode()).hexdigest()[:16])
    return _materialize(
        work, "wide", params, lambda: _wide_parts(seed, n_convs, WIDE["turns"], N_PART_FILES)
    )
