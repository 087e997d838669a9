"""Seed-driven inputs for the benchmark; the same seed gives the same bytes.

`tables` writes the parquet tables the pipelines read, with the column
names, types and value domains of the program's `documents` fixture.
`corpus` writes the anagram job's input: a directory of `.txt` books and a
comma-separated stop-word file.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
             "merge order part query row scan slow small sort spark stream table the "
             "value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def tables(out, seed, n_docs=500):
    """Write `region` (read by the session warm-up) and `documents` (read by
    the pipelines) under `out`: 5 % of documents are near-duplicates (an
    earlier text plus " dup"), 0.2 % exact duplicates. Returns input facts.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
                   f"{out}/region.parquet")
    texts = []
    for d in range(n_docs):
        r = rng.random()
        if d > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, d)] + " dup")
        elif d > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, d)])
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 101)))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()), "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), f"{out}/documents.parquet")
    return {"documents": n_docs}


# English letter frequencies, a..z
LETTER_P = np.array([8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
                     6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074])
LETTER_P = LETTER_P / LETTER_P.sum()


def corpus(out, seed, mb, files=100, vocab=300_000, families=3000, stop=30):
    """Write `files` books totalling about `mb` MB under `out`/corpus and a
    stop-word file of the `stop` most frequent words. Returns input facts.
    """
    rng = np.random.default_rng(seed)
    lens = np.clip(rng.poisson(6, vocab * 2), 2, 14)
    chars = rng.choice(26, int(lens.sum()), p=LETTER_P).astype(np.uint8) + ord("a")
    blob = chars.tobytes().decode("ascii")
    ends = np.cumsum(lens)
    words = list(dict.fromkeys(blob[e - n:e] for e, n in zip(ends, lens)))[:vocab]
    seen = set(words)
    # Planted anagram families: letter shuffles of a word, each a word of its own.
    planted = 0
    for base in rng.choice([w for w in words if len(w) >= 4], families, replace=False):
        for _ in range(int(rng.integers(1, 4))):
            w = "".join(rng.permutation(list(base)))
            if w not in seen:
                seen.add(w)
                words.append(w)
                planted += 1
    words = np.array(words, dtype=object)[rng.permutation(len(words))]
    cdf = np.cumsum(1.0 / np.arange(1, len(words) + 1) ** 1.05)
    cdf /= cdf[-1]
    # Decorated spellings: the tokenizer lower-cases, drops apostrophes and
    # splits on anything that is not a-z.
    forms = [words, np.char.capitalize(words.astype(str)).astype(object),
             np.char.upper(words.astype(str)).astype(object),
             words + ",", words + ".", words + "'s", words + ";", words + "!?",
             np.array([w[:1] + "'" + w[1:] for w in words], dtype=object), "\"" + words + "\""]
    form_p = np.array([70, 10, 1, 8, 5, 2, 1, 0.5, 1, 1.5])
    form_p = form_p / form_p.sum()
    n_tok = int(mb * 1e6 / 8.4)  # bytes per token, decorations included
    os.makedirs(f"{out}/corpus", exist_ok=True)
    total_bytes = 0
    per_file = n_tok // files
    for f in range(files):
        idx = np.minimum(np.searchsorted(cdf, rng.random(per_file)), len(words) - 1)
        form = rng.choice(len(forms), per_file, p=form_p)
        toks = np.empty(per_file, dtype=object)
        for k, arr in enumerate(forms):
            sel = form == k
            toks[sel] = arr[idx[sel]]
        lines, at = [], 0
        for n in rng.integers(6, 18, per_file // 6 + 1):
            if at >= per_file:
                break
            lines.append(" ".join(toks[at:at + n]))
            at += n
        body = ("\n".join(lines) + "\n").encode("ascii")
        total_bytes += len(body)
        with open(f"{out}/corpus/book-{f:03d}.txt", "wb") as fh:
            fh.write(body)
    with open(f"{out}/stopwords.txt", "w") as fh:
        top = list(words[:stop])
        fh.write(", ".join(top[: stop // 2]) + ",\n" + ",".join(top[stop // 2:]) + "\n")
    return {"corpus_bytes": total_bytes, "corpus_files": files, "vocabulary": len(words),
            "planted_family_words": planted, "stop_words": stop}
