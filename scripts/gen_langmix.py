#!/usr/bin/env python3
"""Multi-script documents corpus for the t28 tokenizer-fertility parity
check (VERDICT r11 item 5).

The driver corpus's `lang` column is a LABEL ONLY — every language's text
is the same ASCII token soup, so any per-language byte/token metric is flat
by construction. This generator synthesizes documents whose SCRIPT actually
matches the label (BMP-only, pre-lowercased to dodge casing divergence):

  en — ASCII words            -> subword fertility ~1.0x per ws word
  ru — lowercase Cyrillic     -> [^a-z0-9 ] fires per CODEPOINT: ~word-len x
  el — lowercase Greek        -> same per-codepoint subwording
  zh — CJK runs, 2-4 chars    -> short ws groups, per-char subwords
  hi — Devanagari             -> per-codepoint + 3-byte UTF-8 economy

so fertility_ppm and bytes_per_subword_ppm differ ACROSS langs by
construction (spread >> 1.5x). Other tables are copied from sf0.001 so the
standard table views resolve. Deterministic (fixed seed).

Usage: python3 scripts/gen_langmix.py <outDir>   # e.g. tmp/langmix
Then:  sbt "runMain graft.Verify tmp/langmix tmp/langmix_out t28_tokenizer_fertility"
       python3 scripts/selfcheck.py tmp/langmix tmp/langmix_out
"""
import os
import random
import shutil
import sys

import duckdb
import pandas as pd

SRC = "/root/testdata/sf0.001"
out = sys.argv[1]
os.makedirs(out, exist_ok=True)
rng = random.Random(12)

ASCII = "abcdefghijklmnopqrstuvwxyz"
CYR = [chr(c) for c in range(0x0430, 0x0450)]          # а-я lowercase
GREEK = [chr(c) for c in range(0x03B1, 0x03C9)]        # α-ω lowercase
CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 512)]
DEVA = [chr(c) for c in range(0x0905, 0x0939)]         # consonants/vowels

def word(alphabet, lo, hi):
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))

LANGS = {
    "en": lambda: word(ASCII, 3, 9),
    "ru": lambda: word(CYR, 3, 9),
    "el": lambda: word(GREEK, 3, 9),
    "zh": lambda: word(CJK, 2, 4),
    "hi": lambda: word(DEVA, 3, 8),
}

rows = []
doc_id = 0
for lang, mk in sorted(LANGS.items()):
    for _ in range(800):
        n_words = rng.randint(12, 40)
        text = " ".join(mk() for _ in range(n_words))
        rows.append((doc_id, text, lang, f"src{doc_id % 4}", len(text)))
        doc_id += 1

# Planted NEAR-DUP pairs per language (round 13): without duplicate
# structure the whole d-family passes VACUOUSLY on this corpus (both
# engines compute an empty census) and d04's planted-recall contract is
# false. Long bases (90-110 words -> ~100 3-gram shingles) with a 2-word
# TAIL APPEND give exact Jaccard ~98/102 >= 0.95 — the driver corpus's
# edit model (tail appends never shift chunk anchors), so plantedPairs'
# witness construction covers them. 25 pairs per language puts non-ASCII
# shingle/MinHash/SimHash agreement under real load.
for lang, mk in sorted(LANGS.items()):
    for _ in range(25):
        base = " ".join(mk() for _ in range(rng.randint(90, 110)))
        dup = base + " " + mk() + " " + mk()
        for text in (base, dup):
            rows.append((doc_id, text, lang, f"src{doc_id % 4}", len(text)))
            doc_id += 1

df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
con = duckdb.connect()
con.sql("CREATE VIEW docs AS SELECT CAST(doc_id AS BIGINT) AS doc_id, text, "
        "lang, source, CAST(n_chars AS BIGINT) AS n_chars FROM df")
con.sql(f"COPY docs TO '{out}/documents.parquet' (FORMAT parquet)")
print("documents:", con.sql(f"SELECT lang, count(*) FROM '{out}/documents.parquet' GROUP BY 1 ORDER BY 1").fetchall())

for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "embeddings"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
print("other tables copied from sf0.001")
