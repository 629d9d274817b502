#!/usr/bin/env python3
"""Independent greedy-BPE reference implementation: applies a GPT-2
format merges.txt to a documents.parquet corpus and writes per-doc
token counts as JSON — the parity fixture for graft's codegen'd
bpeCount kernel (BpeSpec compares Spark's output to this file
row by row).

Usage: bpe_reference.py <merges.txt> <documents.parquet> <out.json>

Apply algorithm (mirrors graft.functions.TextHash.bpeWord exactly):
per whitespace token of the normalized text, start from single
characters (code points) and repeatedly merge ALL left-to-right
occurrences of the adjacent pair with the lowest merge rank until no
ranked pair remains; the document's count is the sum of final symbol
counts. The empty string contributes 0.
"""
import json
import re
import sys

import duckdb


def normalize(t: str) -> str:
    return re.sub(r"\s+", " ", t.strip().lower())


def load_ranks(path: str):
    ranks = {}
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, b = line.split(" ")
            ranks[(a, b)] = len(ranks)
    return ranks


def bpe_word(word: str, ranks) -> int:
    if not word:
        return 0
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        a, b = best
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def bpe_word_syms(word: str, ranks):
    """The final symbol list bpe_word counts — same loop, kept in
    lockstep with graft.functions.TextHash.bpeWordSyms."""
    if not word:
        return []
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        a, b = best
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def count(text: str, ranks) -> int:
    return sum(bpe_word(w, ranks) for w in normalize(text).split(" "))


def pieces(text: str, ranks):
    out = []
    for w in normalize(text).split(" "):
        out.extend(bpe_word_syms(w, ranks))
    return out


def main():
    merges, src, out = sys.argv[1], sys.argv[2], sys.argv[3]
    ranks = load_ranks(merges)
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{src}' ORDER BY doc_id").fetchall()
    counts = {str(doc_id): count(text, ranks) for doc_id, text in rows}
    with open(out, "w") as f:
        json.dump(counts, f, indent=0, sort_keys=True)
    print(f"wrote {len(counts)} doc counts to {out}")
    # optional 4th/5th args: dump the PIECES of the first N docs — the
    # tokenization fixture for graft's bpeTokens (BpeSpec)
    if len(sys.argv) > 4:
        tokens_out = sys.argv[4]
        n_docs = int(sys.argv[5]) if len(sys.argv) > 5 else 50
        toks = {str(doc_id): pieces(text, ranks)
                for doc_id, text in rows[:n_docs]}
        with open(tokens_out, "w") as f:
            json.dump(toks, f, indent=0, sort_keys=True)
        print(f"wrote pieces of {len(toks)} docs to {tokens_out}")


if __name__ == "__main__":
    main()
