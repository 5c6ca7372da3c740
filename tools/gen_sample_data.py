#!/usr/bin/env python3
"""Writes the in-repo sample corpus at data/sample_data/ (seeded, stdlib only).

Usage: python3 tools/gen_sample_data.py [out_dir]   (default: data/sample_data)

Layout, which the file-corpus queries and specs rely on:

    arabic.txt          seeded Arabic prose; the only file with Arabic letters
    books/*.txt         28 English-like books; most carry the same Project
                        Gutenberg-style license header and footer lines, so
                        cross-file line dedup (dedup_lines) has furniture to find
    one_book/*.txt      one book with well over 100 non-blank lines

The output is byte-identical on every run, and the committed files are its
output. The script prints the flagship's expected summary line, with the
distinct-word count taken from arabic.txt by its own regex (no Spark).
"""
import os
import random
import re
import shutil
import sys

SEED = 20240501

# The flagship's token class: Arabic letters, tatweel and tashkeel
# (U+0621..U+063A, U+0640..U+0652). Letters and tashkeel as in
# graftbench/gen.py.
LETTERS = [chr(c) for c in range(0x0621, 0x063B)] + [chr(c) for c in range(0x0641, 0x064B)]
TASHKEEL = [chr(c) for c in range(0x064B, 0x0653)]
TATWEEL = "ـ"
ARABIC_RUN = re.compile("[ء-غـ-ْ]+")

# Outside the token class: Latin, ASCII and Arabic-Indic digits, Arabic
# and Latin punctuation.
LATIN_NOISE = ["data", "Spark", "ETL", "http", "v2", "OK", "corpus", "x86"]
DIGIT_NOISE = ["2024", "17", "3.14", "١٢٣", "٠٩"]
PUNCT = ["،", ".", "!", "؟", ":", "؛", "(", ")", "-"]

ARABIC_VOCAB = 1021
ARABIC_TOKENS = 9000

N_BOOKS = 28
PLAIN_BOOKS = {5, 13, 22}          # books without the license apparatus
CRLF_BOOKS = {1, 4, 9, 16, 20, 27}  # Gutenberg files often use CRLF

ENGLISH = (
    "the of and to a in that he was it his for with as had on at by her which "
    "not but be from they you she this all were have him one so my there when "
    "their been would said what if no an out them into could more upon then "
    "some time like very about man little only before great over old now good "
    "long made other day must should after such might never down two come "
    "house night eyes hand door way place again still under heart voice world "
    "father mother river garden morning letter window country friend silence "
    "light road master ship captain journey evening answered looked thought "
    "turned seemed stood walked opened remembered whispered quietly slowly "
    "suddenly perhaps almost nothing something every against through between "
    "without toward across beneath beyond weather winter summer harbour market "
    "village mountain forest cottage lantern candle storm sea island shore "
    "carriage horse soldier doctor lady gentleman servant king queen castle"
).split()
TITLE_WORDS = (
    "Lantern Harbour Winter Garden Captain Letter River Island Journey Silence "
    "Storm Forest Cottage Village Shore Castle Mountain Evening Morning Road"
).split()
FIRST_NAMES = "Agnes Thomas Eliza Henry Martha Walter Clara Edmund Lydia Arthur".split()
LAST_NAMES = "Hale Marsh Whitcombe Reed Ashford Penrose Lyle Carver Dunmore Fenn".split()

HEADER = [
    "This ebook is for the use of anyone anywhere at no cost and with",
    "almost no restrictions whatsoever. You may copy it, give it away or",
    "re-use it under the terms of the Project Gutenberg License included",
    "with this ebook or online at www.gutenberg.org.",
    "Release date: 1998",
    "Language: English",
    "Character set encoding: UTF-8",
]
FOOTER = [
    "Updated editions will replace the previous one--the old editions will",
    "be renamed.",
    "START: FULL LICENSE",
    "THE FULL PROJECT GUTENBERG LICENSE",
    "PLEASE READ THIS BEFORE YOU DISTRIBUTE OR USE THIS WORK",
    "To protect the Project Gutenberg mission of promoting the free",
    "distribution of electronic works, by using or distributing this work",
    "you agree to comply with all the terms of the Full Project Gutenberg",
    "License available with this file or online at www.gutenberg.org/license.",
    "Most people start at our website which has the main PG search facility:",
    "www.gutenberg.org",
]


def arabic_word(rng, rank):
    """A distinct-looking Arabic word; some carry tashkeel or tatweel."""
    w = "".join(rng.choice(LETTERS) for _ in range(2 + rank % 6 + rng.randint(0, 2)))
    if rank % 7 == 3:
        w = "".join(ch + (rng.choice(TASHKEEL) if k % 2 == 0 else "") for k, ch in enumerate(w))
    elif rank % 29 == 11:
        w = w[:1] + TATWEEL + w[1:]
    return w


def gen_arabic(rng):
    """Arabic prose: every vocabulary word once, plus Zipf-ranked draws."""
    vocab, seen = [], set()
    while len(vocab) < ARABIC_VOCAB - 1:
        w = arabic_word(rng, len(vocab))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    # one over-long token: exercises the flagship's 255-char truncation
    vocab.append("".join(rng.choice(LETTERS) for _ in range(300)))
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]
    tokens = vocab[:] + rng.choices(vocab, weights=weights, k=ARABIC_TOKENS - len(vocab))
    rng.shuffle(tokens)
    parts = []
    for k, w in enumerate(tokens):
        r = rng.random()
        if r < 0.03:
            w = w + rng.choice(LATIN_NOISE)        # glued Latin noise
        elif r < 0.05:
            w = rng.choice(DIGIT_NOISE) + w        # glued digit noise
        parts.append(w)
        r = rng.random()
        if r < 0.07:
            parts.append(rng.choice(PUNCT))
        elif r < 0.09:
            parts.append(rng.choice(LATIN_NOISE + DIGIT_NOISE))
        if k % 14 == 13:
            parts.append("\n\n" if rng.random() < 0.15 else "\n")
        else:
            parts.append(" ")
    return "".join(parts)


def sentence(rng):
    n = rng.randint(5, 16)
    words = [rng.choice(ENGLISH[:60]) if rng.random() < 0.6 else rng.choice(ENGLISH)
             for _ in range(n)]
    words[0] = words[0].capitalize()
    if rng.random() < 0.2:
        words.insert(rng.randint(1, n), rng.choice(FIRST_NAMES))
    return " ".join(words) + rng.choice([".", ".", ".", ",", ";", "!", "?"])


def wrap(text, width):
    lines, cur = [], ""
    for w in text.split(" "):
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur:
        lines.append(cur)
    return lines


def gen_book(rng, i, chapters, licensed):
    title = f"The {rng.choice(TITLE_WORDS)} of {rng.choice(TITLE_WORDS)}"
    author = f"{rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}"
    lines = []
    if licensed:
        lines += [f"The Project Gutenberg eBook of {title}, by {author}", ""]
        lines += HEADER
        lines += ["", f"*** START OF THE PROJECT GUTENBERG EBOOK {title.upper()} ***", ""]
    lines += ["", title, "", f"by {author}", ""]
    roman = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII"]
    for c in range(chapters):
        lines += ["", f"CHAPTER {roman[c]}", ""]
        for _ in range(rng.randint(3, 6)):
            para = " ".join(sentence(rng) for _ in range(rng.randint(2, 6)))
            for line in wrap(para, rng.randint(60, 72)):
                r = rng.random()
                if r < 0.04:
                    line = "    " + line       # indented line: trimmed by the line source
                elif r < 0.08:
                    line = line + "  "         # trailing spaces: trimmed too
                lines.append(line)
            lines.append("")
    if licensed:
        lines += [f"*** END OF THE PROJECT GUTENBERG EBOOK {title.upper()} ***", ""]
        lines += FOOTER
    eol = "\r\n" if i in CRLF_BOOKS else "\n"
    return eol.join(lines) + eol


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(text.encode("utf-8"))


def main(out):
    rng = random.Random(SEED)
    if os.path.isdir(out):
        shutil.rmtree(out)
    arabic = gen_arabic(rng)
    write(os.path.join(out, "arabic.txt"), arabic)
    for i in range(N_BOOKS):
        text = gen_book(rng, i, rng.randint(2, 4), i not in PLAIN_BOOKS)
        write(os.path.join(out, "books", f"book{i:02d}.txt"), text)
    write(os.path.join(out, "one_book", "long_book.txt"), gen_book(rng, 0, 8, True))
    words = {w.strip().lower() for w in ARABIC_RUN.findall(arabic)} - {""}
    print(f"wrote {out}: expect [flagship] files=1 uniqueWordRows={len(words)}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join("data", "sample_data"))
