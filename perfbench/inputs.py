"""Seeded input generators, one per workload.

Every generator takes the workload seed and returns plain Python values,
which workloads.py commits as parquet tables; the program under test only
ever sees those tables. The seed chooses document ids, languages, word
sequences and which documents carry planted faults. The *shape* of each
input (document count, page-count mix, fault count, duplicate count) is
fixed, so two seeds do the same amount of work and their timings compare.
"""

from __future__ import annotations

import json
import random
import struct
from dataclasses import dataclass

from paper_layout_parser_spark import synthdata as sd

LANGS = ("en", "de", "fr", "es", "zh")

# Re-keying offset for match_eval copies. Every per-document formula of the
# synthetic spec (giant docs mod 101, page count mod 8, page size mod 3,
# scenario mod 10, confidence mod 8, ground-truth variants mod 8 and mod 7)
# is periodic in this value, so doc d + i*REKEY renders exactly like doc d
# except for the "d<id>" token inside block text.
REKEY = 101 * 8 * 3 * 5 * 7

# Ids stay below 10**8 so URL_FMT's %08d keeps every url the same width.
_MAX_ID = 10 ** 8


# --------------------------------------------------------------------------
# extract: a pages table with planted faults
# --------------------------------------------------------------------------

@dataclass
class PagesInput:
    good_ids: list[int]              # clean docs, rendered through build_pages
    fault_rows: list[tuple]          # pages rows of the planted faults
    expected_text: dict[str, str]    # url -> doc_text
    expected_pages: dict[str, int]   # url -> rendered page count
    expected_quarantine: set[tuple]  # (url, page_no, stage)
    langs: dict[int, str]

    @property
    def n_docs(self) -> int:
        return len(self.good_ids) + len(self.fault_rows)


def _pages_row(url: str, html: bytes, lang: str) -> tuple:
    return (url, None, html, "", lang)


def _doc_text_without_page(doc_id: int, skip: int) -> str:
    """synthdata.doc_text without page ``skip``'s block texts: the expected
    text of a document whose page ``skip`` is quarantined by the detect
    leg."""
    dropped = {b["text"] for b in sd.page_blocks(doc_id, skip)}
    return "\n".join(line for line in sd.doc_text(doc_id).split("\n")
                     if line not in dropped)


def _sample_ids(rng: random.Random, n_by_pages: dict[int, int],
                n_giants: int) -> dict[int, list[int]]:
    """Distinct doc ids: ``n_by_pages[k]`` docs with k pages (1..8) and
    ``n_giants`` giant (64-page) docs."""
    taken: set[int] = set()
    out: dict[int, list[int]] = {k: [] for k in n_by_pages}
    out[sd.GIANT_PAGES] = []
    while len(out[sd.GIANT_PAGES]) < n_giants:
        d = sd.GIANT_MOD * rng.randrange(1, _MAX_ID // sd.GIANT_MOD)
        if d not in taken:
            taken.add(d)
            out[sd.GIANT_PAGES].append(d)
    for k, n in n_by_pages.items():
        while len(out[k]) < n:
            d = 8 * rng.randrange(0, _MAX_ID // 8 - 1) + (k - 1)
            if d % sd.GIANT_MOD and d not in taken:
                taken.add(d)
                out[k].append(d)
    return out


def extract_input(seed: int, n_docs: int) -> PagesInput:
    """The production traffic shape: ~1% 64-page documents, the rest 1..8
    pages evenly, plus one planted fault of each kind: a truncated PLP1
    body, a 64-page header over non-dict page entries (plan_splits' slicing
    path), and a page whose first block lacks the detector's ``name`` field
    (a detect-leg fault inside an otherwise good document)."""
    rng = random.Random(seed)
    n_giants = max(1, round(n_docs * 0.01))
    n_even = n_docs - n_giants - 3
    per = {k: n_even // 8 + (1 if k <= n_even % 8 else 0) for k in range(1, 9)}
    per[2] += 1    # the truncated-body doc
    per[3] += 1    # the detect-fault doc
    ids = _sample_ids(rng, per, n_giants + 1)  # +1: the non-dict header doc
    truncated = ids[2].pop()
    det_fault = ids[3].pop()
    nondict = ids[sd.GIANT_PAGES].pop()
    good = sorted(d for k in ids for d in ids[k])
    langs = {d: rng.choice(LANGS) for d in good + [truncated, nondict, det_fault]}

    html = sd.doc_html(truncated)
    body = json.dumps({"v": 1, "pages": [1, 2, 3]}).encode()
    rows = [
        _pages_row(sd.url_of(truncated), html[:8 + (len(html) - 8) // 2],
                   langs[truncated]),
        _pages_row(sd.url_of(nondict),
                   sd.HTML_MAGIC + struct.pack(">I", sd.GIANT_PAGES) + body,
                   langs[nondict]),
        _pages_row(sd.url_of(det_fault), detect_fault_html(det_fault, 2),
                   langs[det_fault]),
    ]
    expected_text = {sd.url_of(d): sd.doc_text(d) for d in good}
    expected_text[sd.url_of(det_fault)] = _doc_text_without_page(det_fault, 2)
    expected_pages = {sd.url_of(d): sd.n_pages(d) for d in good + [det_fault]}
    return PagesInput(
        good_ids=good, fault_rows=rows, expected_text=expected_text,
        expected_pages=expected_pages,
        expected_quarantine={(sd.url_of(truncated), 1, "rasterize"),
                             (sd.url_of(nondict), 1, "rasterize"),
                             (sd.url_of(det_fault), 2, "detect")},
        langs=langs,
    )


def detect_fault_html(doc_id: int, page_no: int) -> bytes:
    """doc_html with the first block of ``page_no`` missing its ``name``:
    the page renders, then the detector raises on it."""
    html = sd.doc_html(doc_id)
    doc = json.loads(html[8:])
    del doc["pages"][page_no - 1]["blocks"][0]["name"]
    return html[:8] + json.dumps(doc, separators=(",", ":")).encode()


# --------------------------------------------------------------------------
# match_eval: base documents rendered once, then re-keyed copies
# --------------------------------------------------------------------------

def match_eval_ids(seed: int, n_base: int, copies: int) -> tuple[list[int], list[int]]:
    """(base ids, all ids). Base document i has id = i mod 40, so every seed
    gets the same page counts (1 + id % 8) and page scenarios
    ((id + 7 * page) % 10): the same number of items to match. Base ids have
    distinct residues mod REKEY, so every copy ``d + i*REKEY`` is a distinct
    document with its base's pages."""
    rng = random.Random(seed)
    residues: set[int] = set()
    for i in range(n_base):
        while True:
            r = 40 * rng.randrange(REKEY // 40) + i % 40
            if r % sd.GIANT_MOD and r not in residues:
                residues.add(r)
                break
    limit = (_MAX_ID - copies * REKEY) // REKEY
    base = sorted(r + REKEY * rng.randrange(0, limit) for r in residues)
    every = sorted(d + i * REKEY for d in base for i in range(copies))
    return base, every


# --------------------------------------------------------------------------
# dedup: documents shaped like the sf0.1 `documents` table
# --------------------------------------------------------------------------

# Figures measured on the sf0.1 `documents` table (5 000 rows) that this
# generator reproduces: every word drawn uniformly from these 30 words;
# 10..99 words per document, uniformly; 250 near-duplicates (5%), each
# another document's text plus " dup" (3-shingle Jaccard to its source
# 0.89..1, mean 0.97); 8 exact-duplicate pairs, all of them two
# near-duplicates of one source; lang en 41%, de 14%, fr, es and zh 15%
# each; source = src<doc_id mod 20>; n_chars = len(text).
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANG_WEIGHTS = (41, 14, 15, 15, 15)
NEAR_DUP_SHARE = 0.05


def dedup_documents(seed: int, n_docs: int) -> list[tuple]:
    """Rows (doc_id, text, lang, source, n_chars) for doc ids 0..n_docs-1,
    with the seed choosing the words, languages, which documents are
    near-duplicates and what they copy."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 99))) for _ in range(n_docs)]
    dups = sorted(rng.sample(range(n_docs), round(n_docs * NEAR_DUP_SHARE)))
    sources = sorted(set(range(n_docs)) - set(dups))
    for d in dups:
        texts[d] = texts[rng.choice(sources)] + " dup"
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs)
    return [(d, t, lang, f"src{d % 20}", len(t))
            for d, (t, lang) in enumerate(zip(texts, langs))]
