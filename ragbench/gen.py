"""Seeded raw-crawl generator for the lakehouse-to-RAG benchmark.

Everything here is single-process, pure Python + NumPy, and a function
of the seed alone: the same seed gives byte-identical JSON files and
the same expected counts. The program under test only ever sees the
files written by ``write_jsonl``.

Records use the reference raw-JSON shape (``url``, ``scraped_at``,
``status_code``, ``title``, ``content``, ``author``, ``language``) plus a
``doc_id``, the unique raw key ``run_medallion_incremental`` upserts
bronze by. Content is drawn from a Zipf vocabulary of tens of thousands
of words, in sentences and ``\\n\\n``-separated paragraphs, so the
recursive chunker walks its whole separator cascade. Documents span 1
to about 15 gold chunks of 200 characters.

Planted shares (each record gets exactly one kind):

* ``null``   content is JSON null           -> dropped by bronze
* ``blank``  content is whitespace only. Bronze's SQL ``TRIM`` strips
             spaces only, so an all-space page is dropped by bronze and
             one with tabs or newlines is kept by bronze and dropped by
             silver (its ``\\s+`` collapse leaves nothing)
* ``short``  content under 50 characters    -> kept by bronze, dropped by silver
* ``dup``    a second crawl of an earlier URL -> kept by bronze; silver keeps
             one row per URL, and a maintained lakehouse's admission
             rejects it
* ``body``   a normal page, some with non-ASCII symbols that silver's
             normalization turns into spaces
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
CHUNK_CHARS = 190  # stride of the 200/10 chunker
MAX_CHUNKS = 15
NON_ASCII = ["café", "naïve", "→", "—", "中文", "€", "über", "ß", "…", "東京"]

# default shares of one corpus; must sum below 1, the rest are bodies
SHARES = {"null": 0.02, "blank": 0.02, "short": 0.03, "dup": 0.05}
NON_ASCII_SHARE = 0.10
JSONL_FILES = 4  # shards per crawl directory


def vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase words in frequency-rank order. A
    word's length, 3-10 letters, is fixed by its rank, so text from
    every seed has the same length profile and compresses alike; only
    the letters vary with the seed."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    for rank in range(size):
        n = 3 + rank % 8
        w = "".join(letters[rng.integers(0, 26, size=n)])
        while w in seen:
            w = "".join(letters[rng.integers(0, 26, size=n)])
        seen.add(w)
        words.append(w)
    return words


class TextSource:
    """Zipf word stream turned into sentences and paragraphs."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = VOCAB_SIZE):
        self.rng = rng
        self.words = vocabulary(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
        self.p = p / p.sum()

    def body(self, n_chunks: int, non_ascii: bool) -> str:
        """Text of roughly ``n_chunks`` gold chunks (at least 100 chars)."""
        rng = self.rng
        target = max(100, n_chunks * CHUNK_CHARS - int(rng.integers(0, 120)))
        # ~6.5 chars per word incl. the space; oversample, then trim
        ids = rng.choice(len(self.words), size=target // 4 + 8, p=self.p)
        toks = [self.words[i] for i in ids]
        if non_ascii:
            for pos in rng.integers(0, len(toks), size=1 + len(toks) // 40):
                toks[pos] = NON_ASCII[int(rng.integers(0, len(NON_ASCII)))]
        paras: list[str] = []
        sent: list[str] = []
        para: list[str] = []
        total = 0
        sent_len = int(rng.integers(5, 21))
        para_len = int(rng.integers(2, 7))
        for t in toks:
            sent.append(t)
            total += len(t) + 1
            if len(sent) >= sent_len:
                s = " ".join(sent)
                para.append(s[0].upper() + s[1:] + ".")
                sent = []
                sent_len = int(rng.integers(5, 21))
                if len(para) >= para_len:
                    paras.append(" ".join(para))
                    para = []
                    para_len = int(rng.integers(2, 7))
            if total >= target:
                break
        if sent:
            para.append(" ".join(sent) + ".")
        if para:
            paras.append(" ".join(para))
        return "\n\n".join(paras)

    def short(self) -> str:
        """Content that survives bronze but not silver's > 50 filter."""
        out = ""
        while True:
            w = self.words[int(self.rng.integers(0, 200))]
            if len(out) + len(w) + 1 > 40:
                return out or w
            out = f"{out} {w}" if out else w

    def query(self) -> str:
        """A user query: 2-5 words drawn from the same Zipf law."""
        n = int(self.rng.integers(2, 6))
        return " ".join(self.words[i] for i in self.rng.choice(len(self.words), size=n, p=self.p))


@dataclass
class Corpus:
    """Generated raw records plus the counts the planted shares imply."""

    records: list[dict]
    expected_bronze: int
    expected_silver_urls: list[str]
    body_ids: list[int]
    body_chunks: list[int]

    @property
    def expected_silver(self) -> int:
        return len(self.expected_silver_urls)


def in_bronze(content) -> bool:
    """Bronze's admission rule: non-null, and non-empty after SQL TRIM
    (which strips the space character only)."""
    return content is not None and content.strip(" ") != ""


def _record(doc_id: int, url: str, content, rng: np.random.Generator) -> dict:
    return {
        "url": url,
        "scraped_at": 1_700_000_000.0 + doc_id * 7.25,
        "status_code": 200,
        "title": f"page {doc_id}",
        "content": content,
        "author": f"author{int(rng.integers(0, 50))}",
        "language": "en",
        "doc_id": doc_id,
    }


def _url(doc_id: int) -> str:
    return f"https://site{doc_id % 97}.example.org/page/{doc_id}"


def crawl(
    text: TextSource,
    n_records: int,
    first_doc_id: int = 0,
    shares: dict[str, float] | None = None,
    recrawl_urls: list[str] | None = None,
) -> Corpus:
    """One crawl of ``n_records`` raw records.

    ``dup`` records re-crawl a URL: one of ``recrawl_urls`` when given
    (a maintenance batch re-visiting pages already in the lakehouse),
    otherwise an earlier ``body`` URL of this same crawl. A re-crawl
    always carries a long body, so silver keeps exactly one row per
    URL whichever crawl wins its tie. Expected silver is the set of
    URLs whose first appearance here is a ``body``."""
    rng = text.rng
    shares = SHARES if shares is None else shares
    # exact shares and a balanced spread of lengths, in seeded order: a
    # seed changes the text and the order, not the corpus's size, so
    # runs on different seeds do comparable work
    draws = [k for k, p in shares.items() for _ in range(round(p * n_records))]
    draws += ["body"] * (n_records - len(draws))
    draws = [draws[i] for i in rng.permutation(n_records)]
    lengths = rng.permutation(np.arange(n_records) % MAX_CHUNKS + 1)
    records: list[dict] = []
    bodies: list[str] = []
    body_ids: list[int] = []
    body_chunks: list[int] = []
    for i, kind in enumerate(draws):
        doc_id = first_doc_id + i
        if kind == "dup" and not (recrawl_urls or bodies):
            kind = "body"  # nothing to re-crawl yet
        n_chunks = int(lengths[i])
        if kind == "null":
            content, url = None, _url(doc_id)
        elif kind == "blank":
            content, url = ("   ", " \t\n  ")[int(rng.integers(0, 2))], _url(doc_id)
        elif kind == "short":
            content, url = text.short(), _url(doc_id)
        elif kind == "dup":
            pool = recrawl_urls or bodies
            url = pool[int(rng.integers(0, len(pool)))]
            content = text.body(n_chunks, rng.random() < NON_ASCII_SHARE)
        else:
            url = _url(doc_id)
            content = text.body(n_chunks, rng.random() < NON_ASCII_SHARE)
            bodies.append(url)
            body_ids.append(doc_id)
            body_chunks.append(n_chunks)
        records.append(_record(doc_id, url, content, rng))
    bronze = sum(in_bronze(r["content"]) for r in records)
    return Corpus(records, bronze, bodies, body_ids, body_chunks)


def write_jsonl(records: list[dict], out_dir: str) -> int:
    """Write records as JSON-lines shards under ``out_dir``; returns the
    bytes written (the raw input size)."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = max(1, min(JSONL_FILES, len(records)))
    total = 0
    for f in range(n_files):
        lines = [
            json.dumps(r, ensure_ascii=False) for r in records[f::n_files]
        ]
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(os.path.join(out_dir, f"crawl-{f:03d}.json"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total
