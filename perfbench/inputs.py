"""Seeded input generation for every workload.

Everything the engine sees is built here from ``--seed`` alone: Kinesis
records carrying protobuf ``Envelope`` payloads (encoded with the
engine's wire encoder, with ~1 % corrupt payloads planted), the search
request mix and its closed-loop order, and the curation corpus with
exact and near duplicates planted.

The route mix follows ``synthesize_envelopes``: by ``event_id % 10``,
arms 5 and 6 carry the ``source_id=gorouter`` tag, arm 7 is an
``APP/PROC/WEB`` line with an app id, and those three become
``gorouter-<arrival date>`` documents; arm 0 is not a LogMessage, arms
1-4 hit disabled routes, arm 8 has no app id and arm 9 has no route.
The expected outputs the checks compare against are derived here in
plain Python from that rule, not from the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections import Counter
from dataclasses import dataclass

import numpy as np

# Payloads the protobuf wire decoder must reject: missing required
# fields, a truncated varint, and an illegal wire type.
BAD_PAYLOADS = (b"", b"\x0a\xff", b"\xff\xff\xff", b"\x0f\x01\x02\x03")
KEPT_ARMS = (5, 6, 7)
N_SHARDS = 4
N_APPS = 40  # synthesize_cf_dimensions' app rows; ids 40..49 stay unknown
GUID_PREFIX = "00000000-0000-4000-8000-"
EVENT_TYPES = ("click", "view", "error", "purchase", "login")
WORDS = (
    "the a of and to in is that for it with as on was by at be this from "
    "or which an are have not but were all can has data stream shard "
    "index query batch record window merge table spark filter join "
    "value order group scan sort line log router app space org cloud "
    "event metric error latency request response host region node "
    "cluster partition offset commit checkpoint schema column row key"
).split()
CONTENT_WORDS = WORDS[20:]
# words a request searches for: not the KQL keyword "not" (KQL keywords
# are case-insensitive, so Kibana rejects it as a bare value too; the
# engine's query_string parser also takes lower-case "not" as NOT, see
# README, Known defects)
QUERY_WORDS = [w for w in CONTENT_WORDS if w != "not"]

_SOURCE = {
    1: ("/var/log/syslog", "LOG"),
    2: ("/var/vcap/sys/log/gorouter/access.log", "LOG"),
    3: ("/var/vcap/sys/log/director/director.stdout.log", "LOG"),
    4: ("/var/vcap/sys/log/other/app.log", "LOG"),
    7: ("APP/0", "APP/PROC/WEB"),
    8: ("APP/0", "APP/PROC/WEB"),
    9: ("APP/0", "OTHER"),
}


@dataclass
class Records:
    """Kinesis records ``(shard, seq, partition_key, ts_ms, data)`` plus
    what the pipeline must make of them."""

    rows: list[tuple]
    kept: list[bool]  # becomes a document
    corrupt: list[bool]  # lands in the error bucket

    def __len__(self) -> int:
        return len(self.rows)

    def expected_index_counts(self) -> dict[str, int]:
        days = Counter(
            dt.datetime.fromtimestamp(r[3] / 1000, dt.timezone.utc).strftime("%Y-%m-%d")
            for r, k in zip(self.rows, self.kept)
            if k
        )
        return {f"gorouter-{d}": n for d, n in sorted(days.items())}

    def expected_docs(self) -> int:
        return sum(self.kept)

    def expected_poison(self) -> int:
        return sum(self.corrupt)

    def arrow(self):
        """RAW_RECORD_SCHEMA columns, for the raw-record parquet source."""
        import pyarrow as pa

        return pa.table(
            {
                "shard_id": pa.array([r[0] for r in self.rows], pa.string()),
                "sequence_number": pa.array([seq_string(r[1]) for r in self.rows], pa.string()),
                "partition_key": pa.array([r[2] for r in self.rows], pa.string()),
                "arrival_ts": pa.array([r[3] * 1000 for r in self.rows], pa.timestamp("us", "UTC")),
                "data": pa.array([r[4] for r in self.rows], pa.binary()),
            }
        )


def seq_string(seq: int) -> str:
    """kinesis_sim's sequence-number string for offset ``seq``."""
    return f"{seq:020d}"


def doc_id(shard: str, sequence_number: str) -> str:
    """The pipeline's deterministic id: md5 of ``shard|sequence_number``."""
    return hashlib.md5(f"{shard}|{sequence_number}".encode()).hexdigest()


def _guid(n: int) -> str:
    return f"{GUID_PREFIX}{n:012d}"


def make_records(
    seed: int,
    n: int,
    first_id: int = 0,
    ts_ms: int | None = None,
    days: int = 4,
    corrupt_share: float = 0.01,
) -> Records:
    """``n`` records with event ids ``first_id ..``; record ``e`` goes to
    shard ``e % 4`` at offset ``e // 4``. Arrival times are spread over
    ``days`` seeded days, or all equal ``ts_ms`` (a live chunk stamped
    at creation)."""
    from cga_kinesis_to_elasticsearch_spark.sources.protowire import encode_envelope

    rng = np.random.default_rng([seed, first_id, 1])
    if ts_ms is None:
        start = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=seed % 28)
        t0 = int(start.timestamp() * 1000)
        stamps = (t0 + rng.integers(0, days * 86_400_000, n)).tolist()
    else:
        stamps = [ts_ms] * n
    user = rng.integers(0, 100, n).tolist()
    etype = rng.integers(0, len(EVENT_TYPES), n).tolist()
    value = np.round(rng.uniform(0, 100, n), 2).tolist()
    words = rng.integers(0, len(CONTENT_WORDS), (n, 3)).tolist()
    bad = rng.random(n) < corrupt_share
    bad_pick = rng.integers(0, len(BAD_PAYLOADS), n).tolist()
    rows, kept, corrupt = [], [], []
    for i in range(n):
        e = first_id + i
        arm = e % 10
        guid = _guid((e // 10) % (N_APPS + 10))
        u = user[i]
        origin = "envX" if u % 7 == 0 else "env2" if u % 3 == 0 else "env1"
        ts_ns = stamps[i] * 1_000_000
        w = " ".join(CONTENT_WORDS[j] for j in words[i])
        msg = f"evt={EVENT_TYPES[etype[i]]} value={value[i]} msg={w}"
        src, stype = _SOURCE.get(arm, ("APP/0", "LOG"))
        log = {
            "message": msg,
            "message_type": 1,
            "timestamp": ts_ns,
            "app_id": (guid.upper() if arm == 6 else guid) if arm in (3, 5, 6, 7) else "",
            "source_type": stype,
            "source_instance": src,
        }
        env = {
            "origin": origin,
            "event_type": 4 if arm == 0 else 5,
            "timestamp": ts_ns,
            "log_message": log,
            "deployment": "cf",
            "job": "job",
            "index": "0",
            "ip": "10.0.0.1",
        }
        if arm in (5, 6):
            env["tags"] = {"source_id": "gorouter"}
        data = BAD_PAYLOADS[bad_pick[i]] if bad[i] else encode_envelope(env)
        rows.append((f"shard-{e % N_SHARDS}", e // N_SHARDS, str(u), stamps[i], data))
        kept.append(arm in KEPT_ARMS and not bad[i])
        corrupt.append(bool(bad[i]))
    return Records(rows, kept, corrupt)


# -- curation corpus --------------------------------------------------


@dataclass
class Corpus:
    doc_id: list[int]
    text: list[str]

    def distinct_texts(self) -> int:
        """Independent exact-dup group count: distinct md5 of the text."""
        return len({hashlib.md5(t.encode()).hexdigest() for t in self.text})

    def arrow(self):
        import pyarrow as pa

        return pa.table(
            {"doc_id": pa.array(self.doc_id, pa.int64()), "text": pa.array(self.text, pa.string())}
        )


def make_corpus(seed: int, n: int, dup_share: float = 0.1, near_share: float = 0.1) -> Corpus:
    """``n`` documents shaped like the ``documents`` testdata table, with
    exact copies and near copies (two words swapped) planted."""
    rng = np.random.default_rng([seed, 2])
    n_dup, n_near = int(n * dup_share), int(n * near_share)
    n_base = n - n_dup - n_near
    texts = [
        " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(20, 80))))
        for _ in range(n_base)
    ]
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, n_base))])
    for _ in range(n_near):
        words = texts[int(rng.integers(0, n_base))].split()
        for pos in rng.integers(0, len(words), 2):
            words[int(pos)] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words))
    order = rng.permutation(n).tolist()
    return Corpus(doc_id=list(range(n)), text=[texts[i] for i in order])


def make_bm25_queries(seed: int, n: int) -> list[list[str]]:
    rng = np.random.default_rng([seed, 3])
    return [
        sorted({CONTENT_WORDS[i] for i in rng.integers(0, len(CONTENT_WORDS), 3)})
        for _ in range(n)
    ]


# -- search request mix -------------------------------------------------

#: request kinds that hit a documented defect: ES-syntax access to the
#: dotted ``@cf.*`` enrichment columns (see README, Known defects)
CF_KINDS = ("cf_term_filter", "cf_terms_agg", "cf_kql", "cf_esql")


def make_requests(seed: int, indices: list[str]) -> list[dict]:
    """The fixed request mix, one seeded parameterisation of each kind.
    A request is ``{"kind", "api", "body"}``; ``api`` picks the
    interpreter: ``dsl`` (run_search_body), ``kql`` (kql_to_dsl first),
    ``lucene`` (query_string_to_dsl first) or ``esql`` (run_esql)."""
    rng = np.random.default_rng([seed, 4])
    idx = indices[int(rng.integers(0, len(indices)))]
    w1, w2 = (QUERY_WORDS[int(i)] for i in rng.integers(0, len(QUERY_WORDS), 2))
    size = int(rng.integers(5, 20))
    by_time = [{"timestamp": "asc"}, {"doc_id": "asc"}]
    return [
        {"kind": "discover_hits", "api": "dsl", "body": {
            "query": {"bool": {"filter": [{"term": {"es_index": idx}}]}},
            "sort": [{"timestamp": "desc"}, {"doc_id": "asc"}], "size": size,
            "_source": ["doc_id", "timestamp", "es_index"]}},
        {"kind": "timestamp_histogram", "api": "dsl", "body": {
            "aggs": {"t": {"histogram": {"field": "timestamp", "interval": 3_600_000}}}}},
        {"kind": "terms_es_index", "api": "dsl", "body": {
            "aggs": {"idx": {"terms": {"field": "es_index", "size": 50}}}}},
        {"kind": "bm25_match", "api": "dsl", "body": {
            "query": {"match": {"parsed_generic.log_event": f"{w1} {w2}"}},
            "size": size, "_source": ["doc_id"]}},
        {"kind": "kql", "api": "kql", "body": {
            "kql": f"es_index:{idx} and not parsed_generic.log_event:{w1}",
            "size": size, "sort": by_time, "_source": ["doc_id"]}},
        {"kind": "lucene_query_string", "api": "lucene", "body": {
            "query_string": {"query": f"parsed_generic.log_event:({w1} OR {w2})"},
            "size": size, "sort": by_time, "_source": ["doc_id"]}},
        {"kind": "esql_stats", "api": "esql", "body": {
            "esql": "FROM logs | STATS n = COUNT(*) BY es_index | SORT es_index"}},
        {"kind": "esql_where_keep", "api": "esql", "body": {
            "esql": f'FROM logs | WHERE es_index == "{idx}" | KEEP doc_id, timestamp'
                    f" | SORT timestamp, doc_id | LIMIT {size}"}},
        {"kind": "cf_term_filter", "api": "dsl", "body": {
            "query": {"term": {"@cf.env": "env1"}}, "size": size,
            "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}},
        {"kind": "cf_terms_agg", "api": "dsl", "body": {
            "aggs": {"apps": {"terms": {"field": "@cf.app", "size": 100}}}}},
        {"kind": "cf_kql", "api": "kql", "body": {
            "kql": "@cf.env:env1", "size": size, "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}},
        {"kind": "cf_esql", "api": "esql", "body": {
            "esql": "FROM logs | STATS n = COUNT(*) BY `@cf.app` | SORT `@cf.app`"}},
    ]


def request_order(seed: int, n_requests: int, rounds: int) -> list[int]:
    """A seeded closed-loop order over the request list: ``rounds``
    rounds, each a seeded permutation holding every request once, so
    any window of the sequence carries the whole mix in equal shares."""
    rng = np.random.default_rng([seed, 5])
    return [k for _ in range(rounds) for k in rng.permutation(n_requests).tolist()]


# -- self-check ----------------------------------------------------------


def _digest(seed: int) -> tuple[str, tuple[int, ...]]:
    """(sha256 over a sample of every generated input, sizes)."""
    h = hashlib.sha256()
    rec = make_records(seed, 2000)
    live = make_records(seed, 500, first_id=2000, ts_ms=1_700_000_000_000)
    for r in rec.rows + live.rows:
        h.update(repr(r).encode())
    corpus = make_corpus(seed, 200)
    h.update("\n".join(corpus.text).encode())
    reqs = make_requests(seed, sorted(rec.expected_index_counts()))
    h.update(json.dumps(reqs, sort_keys=True).encode())
    h.update(repr(request_order(seed, len(reqs), 4)).encode())
    h.update(repr(make_bm25_queries(seed, 8)).encode())
    sizes = (len(rec), len(live), len(corpus.text), len(reqs))
    return h.hexdigest(), sizes


def self_check(seed: int) -> None:
    """Same seed -> byte-identical inputs; next seed -> different inputs
    of the same size. Raises on a violation."""
    a, b, c = _digest(seed), _digest(seed), _digest(seed + 1)
    if a != b:
        raise RuntimeError("input generator is not deterministic for one seed")
    if a[0] == c[0] or a[1] != c[1]:
        raise RuntimeError("input generator ignores the seed or changes sizes")
