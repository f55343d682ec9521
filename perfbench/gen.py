"""Seeded input generators for the three workloads.

Everything here is plain Python driven by ``random.Random(seed)``: the same
seed yields byte-identical inputs, and each generator returns the ground
truth the correctness checks compare against (planted counts and ids).
The engine only ever sees the generated files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# flow-log lines (the reference ingest template, ~230 B/line)

NEEDLE_USER = "OLEG ZHURAKOUSKY"
NEEDLE_RE = "OLEG ZHURAKOUSKY"
HOT_IP_RE = r"126\.247\.0\.9[0-9]"
TELNET_RE = r"proto 23 \(TELNET\)"

USERS = ["JANE ROE", "JOHN DOE", "ALEX KIM", "MARIA SILVA", "LI WEI", "OMAR ALI"]
_APPS = ["test6", "http", "dns", "ssh", "ftp", "smtp", "ntp", "sip"]


def flow_line(rng: random.Random, seq: int, user: str, src_ip: str, proto: int) -> str:
    proto_name = "TELNET" if proto == 23 else "UDP" if proto == 17 else "TCP"
    return (
        f"<24> 2012-06-13T{seq // 3600 % 24:02d}:{seq // 60 % 60:02d}:{seq % 60:02d} "
        f"{{CGN-SET{rng.randint(1, 4)}}}[{user}]: ASP_SFW_DELETE_FLOW: "
        f"proto {proto} ({proto_name}) application: {rng.choice(_APPS)}, "
        f"ge-{rng.randint(0, 15)}/0/0.0:{src_ip}:{rng.randint(1024, 65535)} -> "
        f"156.56.{rng.randint(0, 255)}.{rng.randint(1, 254)}:{rng.randint(1, 1023)}, "
        f"deleting forward or watch flow {seq} ; source address and port translate "
        f"to 156.57.{rng.randint(0, 255)}.{rng.randint(1, 254)}:{rng.randint(1024, 65535)}"
    )


def plain_ip(rng: random.Random) -> str:
    return f"156.56.{rng.randint(0, 255)}.{rng.randint(1, 254)}"


@dataclass
class LogBatch:
    path: str
    lines: int
    needles: int
    hot_ip: int


def write_log_batch(path: str, seed: int, n_lines: int) -> LogBatch:
    """One text file of flow lines with a seeded, known number of needle
    (ghost user) lines and hot-IP lines; the two sets are disjoint."""
    rng = random.Random(seed)
    n_needles = 20 + rng.randint(0, 40)
    n_hot = 50 + rng.randint(0, 100)
    picks = rng.sample(range(n_lines), n_needles + n_hot)
    needle_at = set(picks[:n_needles])
    hot_at = set(picks[n_needles:])
    with open(path, "w") as f:
        for i in range(n_lines):
            user = NEEDLE_USER if i in needle_at else rng.choice(USERS)
            ip = f"126.247.0.{rng.randint(90, 99)}" if i in hot_at else plain_ip(rng)
            f.write(flow_line(rng, i, user, ip, rng.choice((6, 17))) + "\n")
    return LogBatch(path, n_lines, n_needles, n_hot)


# --------------------------------------------------------------------------
# curation corpus

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "ba", "do", "fu",
        "gi", "ha", "je", "pu", "qua", "ri", "su", "wy"]


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    holdout: list[tuple[int, str]]
    exact_groups: list[list[int]] = field(default_factory=list)
    near_groups: list[list[int]] = field(default_factory=list)
    contaminated: list[int] = field(default_factory=list)
    spam: list[int] = field(default_factory=list)
    plain: list[int] = field(default_factory=list)


def _case_ws_variant(rng: random.Random, text: str) -> str:
    out = []
    for w in text.split(" "):
        r = rng.random()
        out.append(w.upper() if r < 0.15 else w.capitalize() if r < 0.3 else w)
    sep = rng.choice(["  ", " \t ", " "])
    return "  " + sep.join(out) + " \n"


def make_corpus(seed: int, n_docs: int, doc_tokens: int) -> Corpus:
    """``n_docs`` corpus docs of ~``doc_tokens`` words plus a holdout slice.

    Planted: exact-duplicate groups (case/whitespace variants of one doc),
    near-duplicate groups (a few words substituted), contaminated docs (a
    long holdout passage spliced in) and repetition spam. The rest are
    independent random docs over a large vocabulary, so they share no
    3-gram with each other or with the holdout by construction."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 6000)

    def rand_doc(n: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(n))

    def length() -> int:
        return rng.randint(doc_tokens * 3 // 4, doc_tokens * 5 // 4)

    n_holdout = max(8, n_docs // 40)
    holdout = [(1_000_000 + i, rand_doc(length())) for i in range(n_holdout)]

    n_exact = max(2, n_docs // 25)
    n_near = max(2, n_docs // 25)
    n_contam = max(2, n_docs // 40)
    n_spam = max(2, n_docs // 50)

    c = Corpus(docs=[], holdout=holdout)
    next_id = 0

    def add(text: str) -> int:
        nonlocal next_id
        c.docs.append((next_id, text))
        next_id += 1
        return next_id - 1

    for _ in range(n_exact):
        base = rand_doc(length())
        c.exact_groups.append(
            [add(base)] + [add(_case_ws_variant(rng, base)) for _ in range(rng.randint(1, 2))]
        )
    for _ in range(n_near):
        words = rand_doc(length()).split(" ")
        group = [add(" ".join(words))]
        for _ in range(rng.randint(1, 2)):
            variant = list(words)
            for pos in rng.sample(range(len(variant)), max(1, len(variant) // 40)):
                variant[pos] = rng.choice(vocab)
            group.append(add(" ".join(variant)))
        c.near_groups.append(group)
    for _ in range(n_contam):
        src = rng.choice(holdout)[1].split(" ")
        start = rng.randint(0, len(src) // 3)
        passage = src[start : start + len(src) // 2]
        own = rand_doc(length() // 2).split(" ")
        c.contaminated.append(add(" ".join(own[: len(own) // 2] + passage + own[len(own) // 2 :])))
    for _ in range(n_spam):
        # >= 25 repeats of a 2-word phrase: duplicate-word fraction >= 0.96,
        # above curate's 0.9 repetition gate at any doc length
        phrase = rand_doc(2)
        c.spam.append(add(" ".join([phrase] * max(25, length() // 2))))
    while next_id < n_docs:
        c.plain.append(add(rand_doc(length())))
    # interleave planted docs with plain ones so no partition holds only one kind
    order = list(range(len(c.docs)))
    rng.shuffle(order)
    remap = {old: new for new, old in enumerate(order)}
    c.docs = sorted((remap[i], t) for i, t in c.docs)
    c.exact_groups = [sorted(remap[i] for i in g) for g in c.exact_groups]
    c.near_groups = [sorted(remap[i] for i in g) for g in c.near_groups]
    c.contaminated = sorted(remap[i] for i in c.contaminated)
    c.spam = sorted(remap[i] for i in c.spam)
    c.plain = sorted(remap[i] for i in c.plain)
    return c


def write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    """Docs as a ``documents``-shaped parquet file (doc_id, text, lang,
    source, n_chars), the layout the catalog's ``load_table`` reads."""
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["xx"] * len(docs), pa.string()),
            "source": pa.array([f"src{d % 7}" for d, _ in docs], pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
