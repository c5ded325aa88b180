"""Seeded inputs of the benchmark's workloads and the answers they must get.

Everything here is made from the run's seed before timing starts; the
engine only ever sees the generated bytes. The answers are computed with
NumPy from the generated rows, independently of the engine.
"""

from __future__ import annotations

import json
import math
import uuid
from dataclasses import dataclass

import numpy as np

DAY_MS = 1698278400000  # 2023-10-26T00:00:00Z, the reference's test day
HOUR_MS = 3_600_000
MINUTE_MS = 60_000
# the columns a /query over the lake returns, in the engine's order
LAKE_COLUMNS = [
    "batch_id", "batch_source", "time_generated", "file", "Timestamp",
    "TimeOffsetHours", "PointId", "Sequence", "Project", "Value", "Res",
    "Quality",
]


def _guids(rng: np.random.Generator, n: int) -> list[str]:
    return [
        str(uuid.UUID(bytes=rng.integers(0, 256, 16, dtype=np.uint8).tobytes()))
        for _ in range(n)
    ]


@dataclass
class Content:
    """The `content` array of one envelope, as JSON and as columns."""

    hour: int
    body: bytes
    ts: np.ndarray
    pid: np.ndarray
    project: np.ndarray
    value: np.ndarray
    quality: np.ndarray

    @property
    def rows(self) -> int:
        return len(self.ts)


def make_content(
    rng: np.random.Generator,
    rows: int,
    hour: int,
    pids: list[str],
    projects: list[str],
    res: list[str],
) -> Content:
    """`rows` reference-shaped points (tests/main.go: 8 fields), their
    Timestamps spread evenly over `hour` of the test day."""
    ts = DAY_MS + hour * HOUR_MS + np.arange(rows, dtype=np.int64) * (HOUR_MS // rows)
    offset = rng.integers(0, 24, rows)
    pid = rng.integers(0, len(pids), rows)
    seq = rng.integers(0, 100, rows)
    project = rng.integers(0, len(projects), rows)
    value = rng.uniform(1, 43, rows)
    r = rng.integers(0, len(res), rows)
    quality = rng.integers(0, 100, rows)
    items = [
        f'{{"Timestamp":{t},"TimeOffsetHours":{o},"PointId":"{pids[p]}",'
        f'"Sequence":{s},"Project":"{projects[j]}","Value":{v!r},'
        f'"Res":"{res[k]}","Quality":{q}}}'
        for t, o, p, s, j, v, k, q in zip(
            ts.tolist(), offset.tolist(), pid.tolist(), seq.tolist(),
            project.tolist(), value.tolist(), r.tolist(), quality.tolist(),
        )
    ]
    body = ("[" + ",".join(items) + "]").encode()
    return Content(hour, body, ts, pid, project, value, quality)


def envelope(content: Content, key: str, time_generated: int, batch_id: str) -> bytes:
    """The POST / body: the reference's envelope around `content`."""
    head = b'{"content":'
    tail = json.dumps(
        {"id": batch_id, "source": key.split("/")[0],
         "timeGenerated": time_generated, "file": key}
    ).encode()
    return head + content.body + b"," + tail[1:]


# ---------------------------------------------------------------- ingest


@dataclass(frozen=True)
class Post:
    key: str
    content: int
    time_generated: int
    batch_id: str


class IngestPlan:
    """Closed-loop POST / traffic: each client sends 80 000-row envelopes
    whose `file` keys spread over the hours of the day. A round of one
    80 000-row POST per client takes longer than a 10 s window, so a run
    times one POST per client. The first timed POST of one seeded client
    therefore re-sends that client's warm-up key with other rows: every
    run times an overwrite replay, where the lake must replace the key's
    rows. After that, a seeded tenth re-send one of the client's earlier
    keys with the other content of that hour."""

    ROWS = 80_000
    CONTENTS = 8  # two per hour, so a re-send carries different rows
    MAX_POSTS = 400  # per client; far beyond what one run can send
    WARM_ROWS = 10_000  # each client's untimed first POST

    def __init__(self, seed: int, clients: int, rows: int = ROWS) -> None:
        rng = np.random.default_rng([seed, 1])
        pids, projects, res = _guids(rng, 100), _guids(rng, 10), _guids(rng, 50)
        hours = rng.choice(24, self.CONTENTS // 2, replace=False).tolist()
        self.contents = [
            make_content(rng, rows, hours[i // 2], pids, projects, res)
            for i in range(self.CONTENTS)
        ]
        tgs = rng.choice(10**9, clients * (self.MAX_POSTS + 1), replace=False) + 10**9
        self.warm = []
        for c in range(clients):
            hour = hours[c % len(hours)]
            self.contents.append(make_content(rng, self.WARM_ROWS, hour, pids, projects, res))
            key = f"factory-{c + 1}/2023/10/26/{hour:02d}/warm-c{c}.parquet"
            self.warm.append(Post(key, len(self.contents) - 1, int(tgs[-1 - c]), f"warm-c{c}"))
        self.resender = int(rng.integers(0, clients))
        self.posts = [
            self._client_posts(rng, c, tgs[c * self.MAX_POSTS:(c + 1) * self.MAX_POSTS].tolist())
            for c in range(clients)
        ]

    def _client_posts(self, rng: np.random.Generator, client: int, tgs: list[int]) -> list[Post]:
        posts: list[Post] = []
        live: dict[str, int] = {}  # key -> content of its last POST
        for j, tg in enumerate(tgs):
            if j == 0 and client == self.resender:
                # the warm-up key again, with 80 000 rows of its hour
                key = self.warm[client].key
                content = 2 * (client % (self.CONTENTS // 2)) + int(rng.integers(0, 2))
            elif posts and rng.random() < 0.1:
                key = posts[int(rng.integers(0, len(posts)))].key
                content = live[key] ^ 1
            else:
                content = int(rng.integers(0, self.CONTENTS))
                hour = self.contents[content].hour
                key = f"factory-{client + 1}/2023/10/26/{hour:02d}/c{client}-{j:04d}.parquet"
            live[key] = content
            posts.append(Post(key, content, tg, f"c{client}-{j:04d}"))
        return posts

    def body(self, post: Post) -> bytes:
        return envelope(self.contents[post.content], post.key, post.time_generated, post.batch_id)

    def expected_lake(self, acked: list[list[Post]]) -> dict[str, dict]:
        """Per `file` key, the rows of its last acknowledged POST. Keys
        never cross clients, so each client's order decides alone."""
        live: dict[str, Content] = {}
        for posts in acked:
            for p in posts:
                live[p.key] = self.contents[p.content]
        return {
            key: {
                "rows": c.rows,
                "max_ts": int(c.ts.max()),
                "value_sum": float(c.value.sum()),
                "quality_sum": int(c.quality.sum()),
            }
            for key, c in live.items()
        }

    def max_timestamp(self, acked: list[list[Post]]) -> int:
        return max(int(self.contents[p.content].ts.max()) for ps in acked for p in ps)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def lake_mismatches(expected: dict[str, dict], observed: dict[str, dict]) -> list[str]:
    """Keys whose lake rows differ from their last acknowledged POST."""
    bad = sorted(set(expected) ^ set(observed))
    for key in set(expected) & set(observed):
        e, o = expected[key], observed[key]
        if (
            e["rows"] != o["rows"]
            or e["max_ts"] != o["max_ts"]
            or e["quality_sum"] != o["quality_sum"]
            or not close(e["value_sum"], o["value_sum"])
        ):
            bad.append(key)
    return bad


# ----------------------------------------------------------------- query


@dataclass(frozen=True)
class Query:
    kind: str
    text: str
    expected: object


class QueryPlan:
    """A lake of SEED_HOURS envelopes written at setup, and a seeded mix
    of KQL texts over it with their answers. The mix comes in blocks
    that send every shape once, in a seeded order. Shapes repeat, texts
    rarely do: the literals (time window, PointId, Project) are drawn
    per request."""

    SEED_HOURS = 3
    ROWS = 10_000
    SHAPES = ["take", "count", "point", "range", "latest", "top", "dashboard", "series"]
    BLOCKS = 50

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 2])
        self.pids, self.projects = _guids(rng, 50), _guids(rng, 10)
        res = _guids(rng, 20)
        self.contents = [
            make_content(rng, self.ROWS, h, self.pids, self.projects, res)
            for h in range(self.SEED_HOURS)
        ]
        self.envelopes = [
            envelope(c, f"factory-1/2023/10/26/{c.hour:02d}/seed-{c.hour}.parquet", 1000 + c.hour, f"seed-{c.hour}")
            for c in self.contents
        ]
        cat = lambda f: np.concatenate([getattr(c, f) for c in self.contents])  # noqa: E731
        self.ts, self.pid, self.project = cat("ts"), cat("pid"), cat("project")
        self.value, self.quality = cat("value"), cat("quality")
        self.block = len(self.SHAPES)
        kinds = [k for _ in range(self.BLOCKS) for k in rng.permutation(self.SHAPES).tolist()]
        self.requests = [getattr(self, "_q_" + k)(rng) for k in kinds]

    def _window(self, rng: np.random.Generator, minutes: int) -> tuple[int, int]:
        start = DAY_MS + int(rng.integers(0, self.SEED_HOURS * 60 - minutes)) * MINUTE_MS
        return start, start + minutes * MINUTE_MS - 1

    def _in(self, a: int, b: int) -> np.ndarray:
        return (self.ts >= a) & (self.ts <= b)

    def _q_take(self, rng: np.random.Generator) -> Query:
        return Query("take", "TelemetryData | take 100", 100)

    def _q_count(self, rng: np.random.Generator) -> Query:
        return Query("count", "TelemetryData | count", [[len(self.ts)]])

    def _q_point(self, rng: np.random.Generator) -> Query:
        p = int(rng.integers(0, len(self.pids)))
        a, b = self._window(rng, 10)
        m = self._in(a, b) & (self.pid == p)
        rows = [[t, v] for t, v in zip(self.ts[m].tolist(), self.value[m].tolist())]
        text = (
            f"TelemetryData | where PointId == '{self.pids[p]}' and Timestamp between ({a} .. {b})"
            " | project Timestamp, Value | order by Timestamp asc"
        )
        return Query("point", text, rows)

    def _q_range(self, rng: np.random.Generator) -> Query:
        a, b = self._window(rng, 30)
        m = self._in(a, b)
        bins = self.ts[m] // MINUTE_MS * MINUTE_MS
        rows = []
        for k in np.unique(bins).tolist():
            sel = self.value[m][bins == k]
            rows.append([float(k), len(sel), float(sel.mean())])
        text = (
            f"TelemetryData | where Timestamp between ({a} .. {b})"
            " | summarize n = count(), v = avg(Value) by bin(Timestamp, 60000)"
        )
        return Query("range", text, rows)

    def _q_latest(self, rng: np.random.Generator) -> Query:
        j = int(rng.integers(0, len(self.projects)))
        m = self.project == j
        rows = {}
        for p in np.unique(self.pid[m]).tolist():
            sel = m & (self.pid == p)
            i = int(np.argmax(np.where(sel, self.ts, -1)))
            rows[self.pids[p]] = [int(self.ts[i]), float(self.value[i])]
        text = (
            f"TelemetryData | where Project == '{self.projects[j]}'"
            " | summarize arg_max(Timestamp, Value) by PointId"
        )
        return Query("latest", text, rows)

    def _q_top(self, rng: np.random.Generator) -> Query:
        a, b = self._window(rng, 30)
        idx = np.flatnonzero(self._in(a, b))
        top = idx[np.argsort(-self.value[idx], kind="stable")[:10]]
        rows = [[self.pids[self.pid[i]], int(self.ts[i]), float(self.value[i])] for i in top.tolist()]
        text = (
            f"TelemetryData | where Timestamp between ({a} .. {b})"
            " | top 10 by Value desc | project PointId, Timestamp, Value"
        )
        return Query("top", text, rows)

    def _q_dashboard(self, rng: np.random.Generator) -> Query:
        a, b = self._window(rng, 60)
        m = self._in(a, b)
        v, q = self.value[m], self.quality[m]
        level = np.where(v > 30, "high", np.where(v > 10, "mid", "low"))
        rows = {}
        for lv in ("high", "mid", "low"):
            sel = level == lv
            if sel.any():
                rows[lv] = [int(sel.sum()), int((q[sel] >= 50).sum()), np.sort(v[sel])]
        text = (
            f"TelemetryData | where Timestamp between ({a} .. {b})"
            " | extend level = case(Value > 30, 'high', Value > 10, 'mid', 'low'),"
            " good = iff(Quality >= 50, 1, 0)"
            " | summarize n = count(), good = sum(good), p50 = percentile(Value, 50) by level"
        )
        return Query("dashboard", text, rows)

    def _q_series(self, rng: np.random.Generator) -> Query:
        p1, p2 = rng.choice(len(self.pids), 2, replace=False).tolist()
        h = int(rng.integers(0, self.SEED_HOURS - 1))
        start, step, bins = DAY_MS + h * HOUR_MS, 5 * MINUTE_MS, 24
        rows = {}
        for p in (p1, p2):
            m = (self.pid == p) & (self.ts >= start) & (self.ts < start + bins * step)
            k = (self.ts[m] - start) // step
            sums = np.bincount(k, weights=self.value[m], minlength=bins)
            counts = np.bincount(k, minlength=bins)
            rows[self.pids[p]] = np.where(counts > 0, sums / np.maximum(counts, 1), 0.0)
        text = (
            f"TelemetryData | where PointId in ('{self.pids[p1]}', '{self.pids[p2]}')"
            " | extend t = unixtime_milliseconds_todatetime(Timestamp)"
            f" | make-series v = avg(Value) default = 0 on t from datetime(2023-10-26T{h:02d}:00:00Z)"
            f" to datetime(2023-10-26T{h + 2:02d}:00:00Z) step 5m by PointId"
            " | extend (anomalies, score, baseline) = series_decompose_anomalies(v)"
        )
        return Query("series", text, rows)


def check_response(query: Query, table: dict) -> bool:
    """Does one Kusto v1 `Tables[0]` match the query's setup answer?"""
    cols = [c["ColumnName"] for c in table["Columns"]]
    rows = table["Rows"]
    exp = query.expected
    kind = query.kind
    if kind == "take":
        return cols == LAKE_COLUMNS and len(rows) == exp
    if kind in ("count", "point", "top"):
        return rows == exp
    if kind == "range":
        got = sorted(rows)
        return len(got) == len(exp) and all(
            g[0] == e[0] and g[1] == e[1] and close(g[2], e[2]) for g, e in zip(got, exp)
        )
    if kind == "latest":
        got = {r[0]: r[1:] for r in rows}
        return cols == ["PointId", "Timestamp", "Value"] and got == exp
    if kind == "dashboard":
        got = {r[0]: r[1:] for r in rows}
        if got.keys() != exp.keys():
            return False
        for lv, (n, good, ordered) in exp.items():
            g = got[lv]
            # percentile() is approximate, as in ADX: its rank must lie
            # within 2% of the level's sample size of the median's
            rank = int(np.searchsorted(ordered, g[2]))
            if g[0] != n or g[1] != good or abs(rank - n / 2) > 0.02 * n + 1:
                return False
        return True
    if kind == "series":
        i_v, i_a = cols.index("v"), cols.index("anomalies")
        got = {r[0]: r for r in rows}
        if got.keys() != exp.keys():
            return False
        for pid, v in exp.items():
            gv, ga = got[pid][i_v], got[pid][i_a]
            if len(gv) != len(v) or not all(close(x, y) for x, y in zip(gv, v.tolist())):
                return False
            if len(ga) != len(v) or not set(ga) <= {-1, 0, 1}:
                return False
        return True
    raise ValueError(f"unknown query kind {kind}")


# ---------------------------------------------------------------- corpus

WORDS = (
    "spark stream lake batch query table column row value key hash sort"
    " join group filter scan merge window part order line data vector"
    " small big fast slow agg the a index page cache node shard block"
    " log event point series"
).split()
CORPUS_DOCS = 500
CORPUS_VECTORS = 200
VECTOR_DIM = 64


def corpus_tables(seed: int) -> dict[str, dict]:
    """`documents` and `embeddings` with the testdata schema. Like the
    testdata, a few texts are exact copies and a few are planted near
    copies (one word added or dropped at the end, shingle Jaccard above
    0.95, which every detector finds); vectors come in clusters with near
    copies."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        r = rng.random()
        src = texts[int(rng.integers(0, i))].split() if i else []
        if r < 0.01 and src:
            texts.append(" ".join(src))
        elif r < 0.05 and len(src) >= 40:
            if rng.random() < 0.5:
                src = src[:-1]
            else:
                src = src + [WORDS[int(rng.integers(0, len(WORDS)))]]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n).tolist()))
    langs = np.array(["en", "de", "fr", "zh", "es"])[rng.choice(5, CORPUS_DOCS, p=[0.6, 0.1, 0.1, 0.1, 0.1])]
    documents = {
        "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 10, CORPUS_DOCS).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rng.normal(0, 1, (40, VECTOR_DIM))
    label = rng.integers(0, 40, CORPUS_VECTORS)
    vecs = centers[label] + rng.normal(0, 0.6, (CORPUS_VECTORS, VECTOR_DIM))
    for i in range(1, CORPUS_VECTORS):
        if rng.random() < 0.1:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, VECTOR_DIM)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = {
        "vec_id": np.arange(CORPUS_VECTORS, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": label.astype(np.int32),
    }
    return {"documents": documents, "embeddings": embeddings}
