"""Deterministic synthetic corpora (seed-pure; no wall clock, no uuid4).

Analog of the reference's data generator
(/root/reference/data_generator/generate.py + noise.py:5-107), transferred to
the source-code-files domain per FIXTURES.md §1:

    files(repo, path, commit, lang, content) + labels(file_id, true_entity_id)

Duplicate-group structure mirrors the reference's true-physician
multiplication: N_true base entities, each emitted 1–5 times across
different (repo, commit) with path noise (case flips, ``-`` vs ``_``, token
swaps) and content noise (whitespace shifts, identifier renames, 0–3 char
typos).  ~20% singletons.  Language distribution is skewed (~45%
javascript) to exercise hot-block salting.

Every row is a pure function of (seed, entity_index, copy_index).
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd

LANGS = ["javascript", "python", "java", "go", "rust"]
LANG_WEIGHTS = [0.45, 0.20, 0.15, 0.10, 0.10]
LANG_EXT = {"javascript": "js", "python": "py", "java": "java", "go": "go", "rust": "rs"}

_PATH_VOCAB = [
    "src", "lib", "core", "util", "utils", "common", "internal", "pkg",
    "server", "client", "api", "handler", "service", "model", "schema",
    "parser", "lexer", "engine", "store", "cache", "index", "query",
    "plan", "exec", "stream", "batch", "join", "scan", "sort", "hash",
]

_IDENT_VOCAB = [
    "record", "entity", "cluster", "match", "score", "block", "pair",
    "merge", "split", "token", "shingle", "digest", "weight", "edge",
    "node", "graph", "table", "column", "filter", "reduce", "window",
    "buffer", "offset", "cursor", "result", "status", "config", "value",
]

_KEYWORDS = {
    "javascript": ["function", "const", "let", "return", "export", "async", "await"],
    "python": ["def", "class", "return", "import", "yield", "lambda", "with"],
    "java": ["public", "class", "void", "return", "static", "final", "new"],
    "go": ["func", "type", "struct", "return", "defer", "range", "chan"],
    "rust": ["fn", "let", "mut", "impl", "match", "pub", "struct"],
}


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def file_id_of(repo: str, path: str, commit: str) -> str:
    """Stable row id — analog of the reference's md5 source_id
    (etl/normalizer.py:15-34), upgraded to sha256 per BASELINE input_hint."""
    return sha256_hex("\x1f".join((repo, path, commit)))


def _pick_lang(rng: random.Random) -> str:
    x = rng.random()
    acc = 0.0
    for lang, w in zip(LANGS, LANG_WEIGHTS):
        acc += w
        if x < acc:
            return lang
    return LANGS[-1]


def _base_content(rng: random.Random, lang: str) -> str:
    kws = _KEYWORDS[lang]
    lines = []
    for _ in range(rng.randint(6, 14)):
        n = rng.randint(4, 9)
        words = [rng.choice(kws if rng.random() < 0.3 else _IDENT_VOCAB) for _ in range(n)]
        indent = " " * (4 * rng.randint(0, 2))
        lines.append(indent + " ".join(words))
    return "\n".join(lines)


def _base_path(rng: random.Random, lang: str) -> str:
    depth = rng.randint(2, 4)
    toks = [rng.choice(_PATH_VOCAB) for _ in range(depth)]
    stem = f"{rng.choice(_IDENT_VOCAB)}_{rng.choice(_IDENT_VOCAB)}"
    return "/".join(toks) + f"/{stem}.{LANG_EXT[lang]}"


def _noise_path(rng: random.Random, path: str) -> str:
    out = path
    if rng.random() < 0.3:  # separator swap in stem
        out = out.replace("_", "-") if rng.random() < 0.5 else out
    if rng.random() < 0.25:  # case flip one token
        parts = out.split("/")
        i = rng.randrange(len(parts))
        parts[i] = parts[i].upper() if rng.random() < 0.5 else parts[i].capitalize()
        out = "/".join(parts)
    return out


def _noise_content(rng: random.Random, content: str) -> str:
    """Whitespace shifts, identifier rename, 0–3 char typos (analog of the
    reference noise.py:5-23), calibrated mild so true pairs stay high-Jaccard."""
    out = content
    if rng.random() < 0.5:  # whitespace shift
        out = out.replace("    ", "  ") if rng.random() < 0.5 else out.replace("\n", "\n\n", 1)
    if rng.random() < 0.4:  # rename one identifier corpus-wide
        old = rng.choice(_IDENT_VOCAB)
        new = rng.choice(_IDENT_VOCAB)
        out = out.replace(old, new)
    for _ in range(rng.randint(0, 3)):  # char typos
        if len(out) > 10:
            i = rng.randrange(len(out) - 1)
            ch = out[i]
            if ch.isalpha():
                out = out[:i] + chr(((ord(ch.lower()) - 97 + 1) % 26) + 97) + out[i + 1 :]
    return out


def generate_files_corpus(
    n_entities: int = 120, seed: int = 42
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (files_pdf, labels_pdf).

    files: repo, path, commit, lang, content, file_id, content_sha
    labels: file_id, true_entity_id
    """
    files: list[dict] = []
    labels: list[dict] = []
    for k in range(n_entities):
        rng = random.Random(seed * 1_000_003 + k)
        lang = _pick_lang(rng)
        base_content = _base_content(rng, lang)
        base_path = _base_path(rng, lang)
        true_id = f"TRUE_{k:05d}"
        n_copies = 1 if rng.random() < 0.20 else rng.randint(2, 5)
        for c in range(n_copies):
            crng = random.Random(seed * 7_000_003 + k * 101 + c)
            repo = f"org{crng.randrange(7)}/repo{crng.randrange(40)}"
            commit = hashlib.sha1(f"{seed}|{k}|{c}".encode()).hexdigest()
            path = base_path if c == 0 else _noise_path(crng, base_path)
            content = base_content if c == 0 else _noise_content(crng, base_content)
            fid = file_id_of(repo, path, commit)
            files.append(
                dict(repo=repo, path=path, commit=commit, lang=lang,
                     content=content, file_id=fid, content_sha=sha256_hex(content))
            )
            labels.append(dict(file_id=fid, true_entity_id=true_id))
    return pd.DataFrame(files), pd.DataFrame(labels)
