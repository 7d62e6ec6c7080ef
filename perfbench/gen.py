"""Seeded input generators for the lakehouse benchmark.

Every input of every workload is derived from the ``--seed`` argument
alone; the engine under test only ever sees the files written here.
The shapes follow ``tools/gen_testdata.py`` (core + Zipf-tail
vocabulary with per-document topical skew, planted exact and near
duplicates, topic-correlated embeddings) and the bronze alias mix of
``queries/medallion.py:_bronze_fixture`` (title / course_title /
book_title / resource_title, url / link, instructors / authors /
creators, year / publication_date, messy language codes), without
importing either: the benchmark must not move when they change.

Ground truth is computed here, in plain Python, beside the inputs:
expected silver row counts and per-batch upsert counts for the bronze
stream, the planted duplicate pairs with their exact word-3-shingle
Jaccard for the document stream, and the raw query pool for serving.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

CORE = (
    "spark merge vector batch part line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "data join customer a the"
).split()
# mirrors functions/text.py:EN_STOPWORDS — the serve path strips these
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
CONTENT_CORE = [w for w in CORE if w not in STOPWORDS]


class ZipfText:
    """Bag-of-words documents: 60% mass on the core vocabulary, 40% on a
    Zipf(1.1) tail rotated by a per-document topic offset (so unrelated
    documents favour different tail words)."""

    def __init__(self, rng: np.random.Generator, n_tail: int) -> None:
        self.rng = rng
        self.n_tail = n_tail
        self.vocab = np.array(CORE + [f"w{i:05d}" for i in range(n_tail)])
        tail = 1.0 / np.arange(1, n_tail + 1) ** 1.1
        w = np.concatenate(
            [np.full(len(CORE), 0.6 / len(CORE)), 0.4 * tail / tail.sum()]
        )
        self.p = w / w.sum()

    def text(self, n: int, topic: int) -> str:
        ids = self.rng.choice(len(self.vocab), size=n, p=self.p)
        tail = ids >= len(CORE)
        ids[tail] = (ids[tail] - len(CORE) + topic) % self.n_tail + len(CORE)
        return " ".join(self.vocab[ids].tolist())

    def edit(self, text: str, n_edits: int) -> str:
        """``n_edits`` single-token substitutions, each guaranteed to
        change the token (a same-token draw would plant an exact copy)."""
        toks = text.split(" ")
        for _ in range(n_edits):
            j = int(self.rng.integers(0, len(toks)))
            repl = toks[j]
            while repl == toks[j]:
                repl = str(self.vocab[self.rng.integers(0, len(self.vocab))])
            toks[j] = repl
        return " ".join(toks)


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams of the normalized text — the Python twin of
    ``functions/text.py:shingles(tokens(text), n)`` for single-spaced
    lowercase input."""
    toks = " ".join(text.lower().split()).split(" ")
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


# ---------------------------------------------------------------------------
# ingest_medallion: bronze JSONL landing batches

BRONZE_SCHEMA = (
    "id string, title string, course_title string, book_title string, "
    "resource_title string, url string, link string, "
    "instructors array<string>, authors array<string>, "
    "creators array<string>, description string, language string, "
    "license string, year int, publication_date string, "
    "scraped_at string, source string, pdf_paths array<string>"
)

_HOSTS = (
    "https://ocw.mit.edu/courses/",
    "https://openstax.org/books/",
    "https://open.umn.edu/opentextbooks/",
    "https://example.edu/resources/",
    "https://library.example.org/oer/",
)
_LANGS = ("en", " ENG ", "English", "vi", "Vie", None)
_TITLE_KEYS = ("title", "course_title", "book_title", "resource_title")
_CREATOR_KEYS = ("instructors", "authors", "creators")


@dataclass
class _Resource:
    rid: int
    version: int = 0
    assets: list[str] = field(default_factory=list)
    next_asset: int = 0
    last_line: str = ""


@dataclass
class BronzeBatch:
    lines: list[str]
    # expected silver effects of this batch (ground truth)
    resources_upserted: int
    documents_upserted: int
    documents_deleted: int
    rows_quarantined: int


class BronzeStream:
    """Landing batches of heterogeneous scraped OER records.

    Batch 0 is the initial load (inserts only).  Every later batch
    mixes inserts, content updates, asset churn (dropped and added PDFs
    — drives ``merge_delete``), fingerprint-identical re-sends, stale
    older versions of records updated in the same batch (latest-wins
    must drop them) and ~0.1% truncated JSON lines (quarantine)."""

    MIX = {"insert": 0.45, "update": 0.2, "churn": 0.1, "resend": 0.2, "stale": 0.05}

    def __init__(self, seed: int, batch_records: int, initial_records: int) -> None:
        self.rng = np.random.default_rng([seed, 11])
        self.text = ZipfText(self.rng, n_tail=2000)
        self.batch_records = batch_records
        self.initial_records = initial_records
        self.resources: dict[int, _Resource] = {}
        self.next_rid = 0
        self.n_batches = 0
        self.quarantined = 0

    # -- ground truth ------------------------------------------------------

    @property
    def expected_resources(self) -> int:
        return len(self.resources)

    @property
    def expected_documents(self) -> int:
        return sum(len(r.assets) for r in self.resources.values())

    # -- generation --------------------------------------------------------

    def _new_asset(self, r: _Resource) -> str:
        ext = ".epub" if r.next_asset % 5 == 4 else ".pdf"
        path = f"files/{r.rid}/asset_{r.next_asset}{ext}"
        r.next_asset += 1
        return path

    def _render(self, r: _Resource) -> str:
        rid, v = r.rid, r.version
        rec: dict = {}
        if rid % 7 != 0:  # else the md5(url) resource-id fallback
            rec["id"] = f"res-{rid}"
        if rid % 17 != 0:  # else "Untitled"
            rec[_TITLE_KEYS[rid % 4]] = (
                f"Resource {rid} v{v}: " + self.text.text(4, rid)
            )
        rec["url" if rid % 2 == 0 else "link"] = f"{_HOSTS[rid % 5]}{rid}"
        if rid % 13 != 0:
            rec[_CREATOR_KEYS[rid % 3]] = [f"Author {rid % 50}", f"Author {rid % 7}"]
        if rid % 4 != 1:
            rec["description"] = self.text.text(int(8 + rid % 30), rid)
        lang = _LANGS[rid % 6]
        if lang is not None:
            rec["language"] = lang
        if rid % 3 == 0:
            rec["license"] = "CC BY 4.0"
        if rid % 2 == 0:
            rec["year"] = 1990 + rid % 30
        else:
            rec["publication_date"] = f"{1995 + rid % 25}-06-01"
        # strictly increasing per resource across versions
        day = 1 + v
        rec["scraped_at"] = (
            f"2024-{1 + day // 28:02d}-{1 + day % 28:02d} "
            f"{rid % 24:02d}:{rid % 60:02d}:{(rid // 60) % 60:02d}"
        )
        if rid % 10 == 3:
            rec["source"] = "MIT OCW"
        if r.assets:
            rec["pdf_paths"] = list(r.assets)
        return json.dumps(rec, separators=(",", ":"))

    def _insert(self) -> _Resource:
        r = _Resource(self.next_rid)
        self.next_rid += 1
        for _ in range(int(self.rng.integers(0, 4))):
            r.assets.append(self._new_asset(r))
        return r

    def next_batch(self) -> BronzeBatch:
        first = self.n_batches == 0
        n = self.initial_records if first else self.batch_records
        self.n_batches += 1
        lines: list[str] = []
        up_res = up_docs = deleted = 0
        n_corrupt = max(1, round(n / 1000))
        for j in range(n_corrupt):
            # a fresh record cut mid-object: unparseable, unique payload
            r = self._insert()
            line = self._render(r)
            lines.append(line[: max(8, len(line) * 2 // 3)])
        self.quarantined += n_corrupt
        if first:
            counts = {"insert": n - n_corrupt}
        else:
            kinds = list(self.MIX)
            counts = dict(zip(kinds, self.rng.multinomial(
                n - n_corrupt, [self.MIX[k] for k in kinds]
            ).tolist()))
        existing = np.array(sorted(self.resources), dtype=np.int64)
        with_assets = np.array(
            [k for k in existing if self.resources[int(k)].assets], dtype=np.int64
        )
        # disjoint resource sets per kind: no resource is touched twice
        touched: set[int] = set()

        def pick(pool: np.ndarray, k: int) -> list[int]:
            pool = np.array([p for p in pool if int(p) not in touched], dtype=np.int64)
            k = min(k, len(pool))
            chosen = self.rng.choice(pool, size=k, replace=False).tolist() if k else []
            touched.update(chosen)
            return chosen

        for _ in range(counts.get("insert", 0)):
            r = self._insert()
            r.last_line = self._render(r)
            self.resources[r.rid] = r
            lines.append(r.last_line)
            up_res += 1
            up_docs += len(r.assets)
        updated = pick(existing, counts.get("update", 0))
        for rid in updated:
            r = self.resources[rid]
            r.version += 1
            r.last_line = self._render(r)
            lines.append(r.last_line)
            up_res += 1
        for rid in pick(with_assets, counts.get("churn", 0)):
            r = self.resources[rid]
            old = list(r.assets)
            r.assets = old[1:] + ([self._new_asset(r)] if rid % 2 == 0 else [])
            r.version += 1
            r.last_line = self._render(r)
            lines.append(r.last_line)
            up_res += 1
            old_pos = {p: i for i, p in enumerate(old)}
            up_docs += sum(1 for i, p in enumerate(r.assets) if old_pos.get(p) != i)
            deleted += len(set(old) - set(r.assets))
        for rid in pick(existing, counts.get("resend", 0)):
            lines.append(self.resources[rid].last_line)
        # stale copies: the previous version of a record updated above
        for rid in updated[: counts.get("stale", 0)]:
            r = self.resources[rid]
            r.version -= 1
            lines.append(self._render(r))
            r.version += 1
        order = self.rng.permutation(len(lines))
        return BronzeBatch(
            [lines[i] for i in order], up_res, up_docs, deleted, n_corrupt
        )


# ---------------------------------------------------------------------------
# dedup_stream: landing parquet files of documents with planted duplicates

@dataclass
class DocFile:
    doc_ids: list[int]
    texts: list[str]


@dataclass(frozen=True)
class PlantedPair:
    doc_a: int
    doc_b: int
    exact: bool
    jaccard: float


class DocStream:
    """Landing files of ``docs_per_file`` documents.  ~2% of documents are
    exact copies and ~4% are 1-3-token edits of an EARLIER document
    (same file or a previous one), so both new×new and new×corpus pairs
    are planted.  Doc ids are assigned in landing order."""

    EXACT_FRAC = 0.02
    NEAR_FRAC = 0.04

    def __init__(self, seed: int, docs_per_file: int) -> None:
        self.rng = np.random.default_rng([seed, 22])
        self.text = ZipfText(self.rng, n_tail=5000)
        self.docs_per_file = docs_per_file
        self.texts: list[str] = []
        self.planted: list[PlantedPair] = []

    def next_file(self) -> DocFile:
        start = len(self.texts)
        ids = list(range(start, start + self.docs_per_file))
        for doc in ids:
            u = self.rng.random()
            if doc > 0 and u < self.EXACT_FRAC + self.NEAR_FRAC:
                src = int(self.rng.integers(0, doc))
                exact = u < self.EXACT_FRAC
                text = (
                    self.texts[src] if exact
                    else self.text.edit(self.texts[src], int(self.rng.integers(1, 4)))
                )
                self.planted.append(PlantedPair(
                    src, doc, exact,
                    jaccard(shingle_set(self.texts[src]), shingle_set(text)),
                ))
            else:
                topic = int(self.rng.integers(0, self.text.n_tail))
                text = self.text.text(int(self.rng.integers(20, 61)), topic)
            self.texts.append(text)
        return DocFile(ids, self.texts[start:])


# ---------------------------------------------------------------------------
# rag_serve: a fixed corpus + embeddings and a seeded request stream

@dataclass
class RagCorpus:
    doc_ids: np.ndarray
    texts: list[str]
    vec_ids: np.ndarray
    embeddings: np.ndarray  # float32 (n_vec, dim)


def rag_corpus(seed: int, n_docs: int, n_vecs: int, dim: int = 64) -> RagCorpus:
    """Zipf-text documents and topic-correlated embeddings: vec_id i
    embeds document i, and its vector is its topic centre plus noise, so
    lexical and vector relevance are correlated (``gen_testdata.py``)."""
    rng = np.random.default_rng([seed, 33])
    zt = ZipfText(rng, n_tail=3000)
    topics = rng.integers(0, zt.n_tail, n_docs)
    texts = [zt.text(int(rng.integers(8, 91)), int(t)) for t in topics]
    n_coarse = 10
    coarse = (topics[:n_vecs] * n_coarse // zt.n_tail).astype(np.int64)
    centers = rng.normal(0.0, 0.12, (n_coarse, dim))
    emb = (centers[coarse] + rng.normal(0.0, 0.05, (n_vecs, dim))).astype(np.float32)
    return RagCorpus(np.arange(n_docs, dtype=np.int64), texts,
                     np.arange(n_vecs, dtype=np.int64), emb)


def query_pool(seed: int, corpus: RagCorpus, size: int) -> list[str]:
    """Raw request strings: 1-4 content terms drawn from the core and
    the corpus's own tail vocabulary (every term occurs in a document
    that has a vector, so no request degenerates to an all-zero lexical
    branch), mixed
    case, with stopwords sprinkled in."""
    rng = np.random.default_rng([seed, 44])
    seen: dict[str, int] = {}
    # only documents that also carry a vector reach the fused ranking
    for t in corpus.texts[: len(corpus.vec_ids)]:
        for w in t.split(" "):
            seen[w] = seen.get(w, 0) + 1
    tail = sorted(w for w in seen if w.startswith("w"))
    pool: list[str] = []
    while len(pool) < size:
        terms = []
        for _ in range(int(rng.integers(1, 5))):
            src = CONTENT_CORE if rng.random() < 0.5 else tail
            terms.append(src[int(rng.integers(0, len(src)))])
        words = []
        for t in terms:
            if rng.random() < 0.4:
                words.append(STOPWORDS[int(rng.integers(0, len(STOPWORDS)))])
            words.append(t.upper() if rng.random() < 0.2 else t)
        q = " ".join(words)
        if q not in pool:
            pool.append(q)
    return pool


def request_stream(seed: int, pool_size: int, n: int) -> list[int]:
    """Seeded Zipf(1.1) draws over pool indices, in a seed-permuted
    popularity order: about a third of requests repeat an earlier one."""
    rng = np.random.default_rng([seed, 55])
    ranks = np.arange(1, pool_size + 1)
    p = 1.0 / ranks ** 1.1
    popularity = rng.permutation(pool_size)
    return popularity[rng.choice(pool_size, size=n, p=p / p.sum())].tolist()
