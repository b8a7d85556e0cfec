"""Seeded workload inputs and their expected outputs.

Every table is built here, in the benchmark process, with numpy and
pyarrow, and written as parquet before any timing starts; the program
only ever sees the files.  The same seed gives byte-identical inputs.

Log lines come from templates modelled on the golden corpus
(``syslog_loose_spark.sources.corpus``).  The per-row slots vary only
minutes, seconds, sub-second digits, host names, pids, addresses, SD
values and the message tail, so a template's sink, facility, severity
and hour never change.  The expected aggregate counts are therefore the
oracle's parse of one rendering of each template times its row count;
``_check_templates`` proves that claim on random renderings before any
table is written.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from syslog_loose_spark.oracle import ParseFail, parse_message_exact

HOT_SOURCE = "nginx"
COLD_SOURCES = ("rsyslog", "haproxy", "syslog-ng", "juniper", "ubnt", "f5",
                "app0", "app1", "app2", "app3", "app4", "app5", "app6",
                "app7", "app8", "app9")
HOT_SHARE = 0.60

_WORDS = ("alpha", "bravo", "cache", "delta", "error", "flush", "gamma",
          "index", "join", "kernel", "lease", "merge", "node", "open",
          "queue", "retry", "shard", "token", "update", "vector", "write",
          "yield", "zone", "backend", "client", "daemon", "socket",
          "timeout", "upstream", "worker")
_HOSTS = ("web", "db", "edge", "cache", "api", "auth", "mq", "lb")

# (name, share of rows, template).  Slots: {mm} {ss} minute/second,
# {ms}/{us} sub-second digits, {host}, {pid}, {ip}, {n} small int,
# {v} alnum SD value, {tail} message words.  Four malformed templates
# (5% of rows) fail the exact parse and go to dead_letter.
LOG_TEMPLATES = (
    ("nginx_3164", 0.20,
     '<190>Dec 28 16:{mm}:{ss} {host} nginx: {ip} - - '
     '[28/Dec/2019:16:{mm}:{ss} +0000] "GET /{v} HTTP/1.1" 304 {n} "-" '
     '"Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:71.0) Gecko/20100101 '
     'Firefox/71.0"'),
    ("haproxy_no_host", 0.08,
     "<133>Jan 13 16:{mm}:{ss} haproxy[{pid}]: Proxy {v}-servers started "
     "{tail}"),
    ("syslog_ng_3164", 0.08,
     "<13>Feb 13 20:{mm}:{ss} {host} root[{pid}]: {tail}"),
    ("rsyslog_sd", 0.06,
     '<46>Jan  5 15:{mm}:{ss} {host} rsyslogd:  [origin '
     'software="rsyslogd" swVersion="8.32.0" x-pid="{pid}" '
     'x-info="http://www.rsyslog.com"] {tail}'),
    ("ubnt_iptables", 0.06,
     "<4>Jan 26 05:{mm}:{ss} ubnt kernel: [WAN_LOCAL-default-D]IN=eth0 OUT= "
     "MAC=b4:fb:00:11:22:33:44:55:66:77:88:99:08:00 SRC={ip} "
     "DST=10.0.0.1 LEN={n} TOS=0x00 PREC=0x00 TTL=46 ID={pid} DF "
     "PROTO=TCP SPT={pid} DPT=4433 WINDOW=5840 RES=0x00 SYN URGP=0"),
    ("apache_brackets", 0.05,
     "<131>Jun 8 11:{mm}:{ss} {host} apache_error [Tue Jun 08 "
     "11:{mm}:{ss}.{us} 2021] [php7:emerg] [pid {pid}] [client {ip}:{n}] "
     "{tail}"),
    ("tag_with_pid_3164", 0.06,
     "<34>Oct 11 22:{mm}:{ss} {host} app[{pid}]: {tail}"),
    ("rfc5424_sd", 0.10,
     '<165>1 2003-10-11T22:{mm}:{ss}.{ms}Z {host}.example.com evntslog - '
     'ID{n} [exampleSDID@32473 iut="{n}" eventSource="{v}" '
     'eventID="{pid}"] {tail}'),
    ("syslog_ng_5424", 0.08,
     '<13>1 2019-02-13T19:{mm}:{ss}+00:00 {host} root {pid} - '
     '[meta sequenceId="{n}" sysUpTime="{pid}" language="EN"]'
     '[origin ip="{ip}" software="{v}"] {tail}'),
    ("juniper", 0.06,
     "<28>1 2020-05-22T14:{mm}:{ss}.{ms}-03:00 OX-XXX-MX204 "
     "OX-XXX-CONTEUDO:rpd {pid} - - bgp_listen_accept: %DAEMON-4: "
     "Connection attempt from unconfigured neighbor: {ip}+{n}"),
    ("f5", 0.05,
     '<131>1 2025-05-09T09:{mm}:{ss}.{us}+02:00 {host}.network.example '
     'appname {pid} 01230456:1: [F5@1234 hostname="{host}" '
     'errdefs_msgno="01230456:1:"] RST sent from {ip}:443 to '
     '192.0.2.2:{n}, {tail}'),
    ("rfc5424_plain", 0.04,
     "<34>1 2003-10-11T22:{mm}:{ss}.{ms}Z {host} su - ID47 - "
     "BOM'su root' failed for {v} on /dev/pts/{n}"),
    ("null_ts_5424", 0.03,
     "<14>1 - {ip} Serial-Debugger - - - {tail}"),
    ("gobbledegook", 0.015, "complete and utter gobbledegook {tail}"),
    ("exact_err", 0.015,
     "I am an invalid syslog message, but I do like cheese {tail}"),
    ("unicode_pri_digit", 0.01,
     "<٣>Oct 11 22:{mm}:{ss} {host} app[{pid}]: {tail}"),
    ("unicode_day_digit", 0.01,
     "<34>Oct ١١ 22:{mm}:{ss} {host} app: {tail}"),
)

TOKENS_TYPE = pa.list_(pa.field("element", pa.int32(), False))


@dataclass(frozen=True)
class TemplateFacts:
    """What the oracle says about every rendering of one template."""

    sink: str
    facility: int | None
    severity: int | None
    hour: int | None            # epoch seconds of the UTC hour, or None


def _bucket(sev):
    if sev is None:
        return "unknown"
    return "high" if sev <= 3 else ("mid" if sev <= 5 else "low")


def oracle_facts(line: str) -> TemplateFacts:
    """(sink, facility, severity, hour) the pipeline must route a line to:
    dead_letter when the exact parse fails, else the severity bucket."""
    try:
        m = parse_message_exact(line)
    except ParseFail:
        return TemplateFacts("dead_letter", None, None, None)
    hour = None
    if m.timestamp is not None:
        hour = int(m.timestamp.timestamp()) // 3600 * 3600
    return TemplateFacts(_bucket(m.severity), m.facility, m.severity, hour)


def _slot(key: str, rng: np.random.Generator, n: int) -> list:
    """n seeded values of one template slot, as str."""
    def ints(lo, hi):
        return rng.integers(lo, hi, n).tolist()

    def pick(vocab):
        return _pick(vocab, rng, n)

    if key in ("mm", "ss"):
        return [f"{x:02d}" for x in ints(0, 60)]
    if key == "ms":
        return [f"{x:03d}" for x in ints(0, 1000)]
    if key == "us":
        return [f"{x:06d}" for x in ints(0, 1_000_000)]
    if key == "host":
        return [f"{h}-{k:02d}" for h, k in zip(pick(_HOSTS), ints(0, 100))]
    if key == "pid":
        return [str(x) for x in ints(1, 65536)]
    if key == "ip":
        return [f"{a}.{b}.{c}.{d}" for a, b, c, d in
                rng.integers(1, 255, size=(n, 4)).tolist()]
    if key == "n":
        return [str(x) for x in ints(0, 10000)]
    if key == "v":
        return [f"{w}{k}" for w, k in zip(pick(_WORDS), ints(0, 1000))]
    if key == "tail":
        n_tail = rng.integers(2, 7, n)
        words = _pick(_WORDS, rng, int(n_tail.sum()))
        cuts = np.concatenate(([0], np.cumsum(n_tail))).tolist()
        return [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    raise KeyError(key)


def _pick(vocab, rng: np.random.Generator, n: int) -> list:
    return [vocab[i] for i in rng.integers(0, len(vocab), n).tolist()]


_SLOT_RX = re.compile(r"\{(\w+)\}")


def _render(template: str, rng: np.random.Generator, n: int) -> list:
    """n renderings of a template with freshly drawn slot values."""
    keys = list(dict.fromkeys(_SLOT_RX.findall(template)))
    if not keys:
        return [template] * n
    fmt = _SLOT_RX.sub(lambda m: "{%d}" % keys.index(m.group(1)), template)
    cols = [_slot(k, rng, n) for k in keys]
    return [fmt.format(*vals) for vals in zip(*cols)]


def _check_templates(seed: int) -> dict:
    """Facts per template, after proving on random renderings that the
    slots leave them unchanged (a template that fails this is a
    generator bug, not a program failure)."""
    rng = np.random.default_rng([seed, 7])
    facts = {}
    for name, _share, tmpl in LOG_TEMPLATES:
        lines = _render(tmpl, rng, 16)
        got = {oracle_facts(x) for x in lines}
        if len(got) != 1:
            raise RuntimeError(f"template {name} varies its routing: {got}")
        facts[name] = got.pop()
    return facts


@dataclass
class LogTable:
    """A generated log workload: where it lives and what must come out."""

    path: str
    n_rows: int
    input_bytes: int                  # parquet bytes on disk
    expected: Counter                 # (sink, fac, sev, hour) -> rows
    sample: dict                      # doc_id -> raw line, seeded sample


def write_log_table(path: str, n_rows: int, seed: int, n_files: int = 8,
                    sample_size: int = 1000) -> LogTable:
    """Write ``n_rows`` of ``(doc_id, tokens, n_tok, source)`` as parquet
    and return the expected per-(sink, facility, severity, hour) counts."""
    facts = _check_templates(seed)
    rng = np.random.default_rng(seed)
    shares = np.array([s for _n, s, _t in LOG_TEMPLATES], dtype=float)
    tmpl_idx = rng.choice(len(LOG_TEMPLATES), size=n_rows,
                          p=shares / shares.sum())
    lines = np.empty(n_rows, dtype=object)
    expected: Counter = Counter()
    for t, (name, _share, tmpl) in enumerate(LOG_TEMPLATES):
        rows = np.flatnonzero(tmpl_idx == t)
        lines[rows] = _render(tmpl, rng, len(rows))
        f = facts[name]
        expected[(f.sink, f.facility, f.severity, f.hour)] += len(rows)
    hot = rng.random(n_rows) < HOT_SHARE
    cold = np.asarray(COLD_SOURCES, dtype=object)[
        rng.integers(0, len(COLD_SOURCES), n_rows)]
    sources = np.where(hot, HOT_SOURCE, cold)
    doc_ids = [f"doc-{i:09d}" for i in range(n_rows)]

    raw = [x.encode("utf-8") for x in lines]
    lengths = np.fromiter(map(len, raw), dtype=np.int64, count=n_rows)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    values = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int32)
    del raw
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(values), type=TOKENS_TYPE),
        "n_tok": pa.array(lengths.astype(np.int32)),
        "source": pa.array(sources.tolist(), pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    per_file = -(-n_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per_file, per_file),
                       os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=1 << 15)
    pick = rng.choice(n_rows, size=min(sample_size, n_rows), replace=False)
    return LogTable(path, n_rows, parquet_stats(path)[0], expected,
                    {doc_ids[i]: lines[i] for i in pick})


def parquet_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under path."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


# --- curation inputs ---------------------------------------------------

_VOCAB = 50_000
DOC_SOURCES = ("s0", "s1", "s2", "s3", "s4")
PLANT_EVERY = 100


@dataclass
class CurationInputs:
    docs_path: str
    vecs_path: str
    n_docs: int
    n_vecs: int
    doc_pairs: list          # planted (a, b): b is a plus one word
    vec_pairs: list          # planted (a, b): identical vectors
    docs_per_source: Counter


def write_curation_inputs(root: str, n_docs: int, n_vecs: int, seed: int,
                          dim: int = 64, n_files: int = 6
                          ) -> CurationInputs:
    """Docs ``(doc_id bigint, text, source)`` with words drawn uniformly
    from a large vocabulary, so no two docs share a winnowing window by
    chance, and vectors ``(vec_id bigint, embedding array<double>)``; record
    ``i`` with ``i % 100 == 99`` is a planted near-duplicate of ``i-1``."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array([f"w{k}" for k in range(_VOCAB)], dtype=object)
    n_words = rng.integers(20, 61, n_docs)
    ranks = rng.integers(0, _VOCAB, int(n_words.sum()))
    cuts = np.concatenate(([0], np.cumsum(n_words)))
    texts = [" ".join(vocab[ranks[cuts[i]:cuts[i + 1]]])
             for i in range(n_docs)]
    doc_pairs = []
    for b in range(PLANT_EVERY - 1, n_docs, PLANT_EVERY):
        texts[b] = texts[b - 1] + " " + vocab[rng.integers(0, _VOCAB)]
        doc_pairs.append((b - 1, b))
    sources = _pick(DOC_SOURCES, rng, n_docs)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "source": pa.array(sources, pa.string()),
    })
    vecs = rng.standard_normal((n_vecs, dim))
    vec_pairs = []
    for b in range(PLANT_EVERY - 1, n_vecs, PLANT_EVERY):
        vecs[b] = vecs[b - 1]
        vec_pairs.append((b - 1, b))
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float64())),
    })
    out = {}
    for name, table in (("docs", docs), ("vecs", emb)):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        per_file = -(-table.num_rows // n_files)
        for k in range(n_files):
            pq.write_table(table.slice(k * per_file, per_file),
                           os.path.join(d, f"part-{k:03d}.parquet"))
        out[name] = d
    return CurationInputs(out["docs"], out["vecs"], n_docs, n_vecs,
                          doc_pairs, vec_pairs, Counter(sources))

