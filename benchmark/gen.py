"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (seed, size): the same pair always gives
the same bytes. The program under test receives only the files written
here, never the seed. Each generator also writes a `meta.json` next to its
data with the planted facts the output checks need (twin ids,
contaminated ids, query sets) and the measured input properties.

The input properties each workload was chosen for are documented in
README.md; the constants below are those properties.
"""

import bisect
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- vocabulary

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "da",
              "gu", "zo", "fa", "he", "ji", "wu", "xe", "bo", "ci", "ya"]


def _words(n, prefix, rng):
    out, seen = [], set()
    while len(out) < n:
        w = prefix + "".join(rng.choice(_SYLLABLES)
                             for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# Fixed vocabularies (independent of the workload seed): content words,
# plus an eval-only vocabulary, so contamination can only come from the
# spans planted on purpose.
VOCAB = _words(20000, "", random.Random(7))
EVAL_VOCAB = _words(2000, "q", random.Random(8))


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n, s):
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)
        self.total = acc

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.total)

    def draws(self, rng, k):
        cum, total = self.cum, self.total
        return [bisect.bisect_left(cum, rng.random() * total) for _ in range(k)]


def _write_meta(out_dir, meta):
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


# --------------------------------------------------------------- wiki_extract

WIKI_ZIPF_S = 1.05
# page body length in words: log-normal (median ~ e^5.5 = 245 words), clipped
WIKI_LEN_MU, WIKI_LEN_SIGMA, WIKI_LEN_MIN, WIKI_LEN_MAX = 5.5, 1.1, 12, 30000
WIKI_REDIRECT_FRAC = 0.08
WIKI_OTHER_NS_FRAC = 0.10
WIKI_OTHER_NS = ["Category", "Template", "File", "Wikipedia", "Talk", "Help"]
# one split per part file, one part per core of the 4-vCPU reference host
WIKI_PARTS = 4


class _WikiText:
    """Builds one page body in dump form: wikitext, XML-escaped once.

    Markup covers the reference's range: nested templates and tables,
    links with anchors, section anchors and trails, external links, bold
    and italic, doubly-escaped entities, comments, ref/math/code elements,
    preformatted lines, empty and non-empty sections and lists.
    """

    def __init__(self, rng, zipf):
        self.rng, self.zipf = rng, zipf

    def word(self):
        return VOCAB[self.zipf.draw(self.rng)]

    def phrase(self, lo, hi):
        return " ".join(self.word() for _ in range(self.rng.randint(lo, hi)))

    def template(self, depth):
        r = self.rng
        args = []
        for i in range(r.randint(1, 3)):
            val = self.phrase(1, 3)
            if depth < 3 and r.random() < 0.3:
                val = self.template(depth + 1)
            args.append(f"p{i}={val}" if r.random() < 0.6 else val)
        return "{{" + self.word() + "|" + "|".join(args) + "}}"

    def table(self, depth):
        r = self.rng
        rows = ["{| class=\"wikitable\"", "! " + self.word() + " !! " + self.word()]
        for _ in range(r.randint(1, 4)):
            rows.append("|-")
            cell = self.phrase(1, 4)
            if depth < 2 and r.random() < 0.2:
                cell = "\n" + self.table(depth + 1) + "\n"
            rows.append("| " + cell + " || " + self.phrase(1, 3))
        rows.append("|}")
        return "\n".join(rows)

    def token(self):
        r, w = self.rng, self.word()
        x = r.random()
        if x < 0.04:
            return "[[" + w + "]]"
        if x < 0.06:
            return "[[" + w.capitalize() + "|" + self.phrase(1, 3) + "]]"
        if x < 0.07:
            return "[[" + w + "]]s"
        if x < 0.075:
            return "[[" + w.capitalize() + "#" + self.word() + "|" + w + "]]"
        if x < 0.078:
            return "[[w:" + w.capitalize() + "|" + w + "]]"
        if x < 0.08:
            return "[[Category:" + w.capitalize() + "]]"
        if x < 0.10:
            return "'''" + w + "'''"
        if x < 0.12:
            return "''" + w + "''"
        if x < 0.123:
            return "'''''" + w + "'''''"
        if x < 0.128:
            return "[http://example.org/" + w + " " + self.phrase(1, 2) + "]"
        if x < 0.130:
            return "[http://example.org/" + w + "]"
        if x < 0.134:
            return w + "&amp;amp;" + self.word()
        if x < 0.136:
            return "&amp;quot;" + w + "&amp;quot;"
        if x < 0.138:
            return w + "&amp;nbsp;" + self.word()
        return w

    def sentence(self):
        toks = [self.token() for _ in range(self.rng.randint(6, 22))]
        s = " ".join(toks)
        return s[0].upper() + s[1:] + "."

    def paragraph(self, words_left):
        r = self.rng
        parts, used = [], 0
        while used < words_left:
            s = self.sentence()
            used += s.count(" ") + 1
            x = r.random()
            if x < 0.12:
                s += " " + self.template(1)
            elif x < 0.20:
                s += "&lt;ref&gt;" + self.phrase(2, 6) + "&lt;/ref&gt;"
            elif x < 0.23:
                s += "&lt;ref name=\"" + self.word() + "\" /&gt;"
            elif x < 0.26:
                s += " &lt;!-- " + self.phrase(2, 5) + " --&gt;"
            elif x < 0.28:
                s += " &lt;math&gt;x^2 + " + self.word() + "&lt;/math&gt;"
            elif x < 0.30:
                s += " &lt;code&gt;" + self.word() + "()&lt;/code&gt;"
            parts.append(s)
        return " ".join(parts), used

    def body(self, n_words):
        r = self.rng
        out = ["'''" + self.word().capitalize() + "''' " + self.sentence()]
        if r.random() < 0.5:
            out.insert(0, self.template(1))
        left = n_words
        while left > 0:
            para, used = self.paragraph(min(left, r.randint(30, 120)))
            out.append(para)
            left -= used
            x = r.random()
            if x < 0.10:
                out.append(self.table(1))
            elif x < 0.20:
                bullet = r.choice(["*", "#", ":", ";"])
                out.extend(bullet + " " + self.phrase(2, 8)
                           for _ in range(r.randint(2, 5)))
            elif x < 0.25:
                out.extend(" " + self.phrase(2, 6) for _ in range(r.randint(1, 3)))
            if left > 0 and r.random() < 0.35:
                level = "==" if r.random() < 0.7 else "==="
                out.append(f"{level} {self.phrase(1, 3).capitalize()} {level}")
                if r.random() < 0.15:  # an empty section
                    out.append(f"{level} {self.phrase(1, 2).capitalize()} {level}")
        return "\n".join(out)


def wiki_dump(seed, target_mb, out_dir):
    """A MediaWiki XML dump of about `target_mb` MB, written as
    `WIKI_PARTS` plain part files in `dump/`: header in the first, pages
    split evenly by bytes, footer in the last."""
    rng = random.Random(seed)
    zipf = Zipf(len(VOCAB), WIKI_ZIPF_S)
    gen = _WikiText(rng, zipf)
    target = int(target_mb * 1e6)
    os.makedirs(os.path.join(out_dir, "dump"))
    pages = redirects = other_ns = 0
    lengths = []
    written = 0
    part = None

    def put(s):
        nonlocal written
        part.write(s)
        written += len(s.encode("utf-8"))

    for i in range(WIKI_PARTS):
        part = open(os.path.join(out_dir, "dump", f"part-{i:04d}.xml"), "w",
                    encoding="utf-8", newline="\n")
        if i == 0:
            put('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
                'version="0.10" xml:lang="en">\n  <siteinfo>\n'
                '    <sitename>Benchwiki</sitename>\n'
                '    <base>http://bench.example.org/wiki/Main_Page</base>\n'
                '  </siteinfo>\n')
        while written < target * (i + 1) // WIKI_PARTS:
            pages += 1
            title = gen.phrase(1, 3).title()
            x = rng.random()
            redirect = x < WIKI_REDIRECT_FRAC
            if not redirect and x < WIKI_REDIRECT_FRAC + WIKI_OTHER_NS_FRAC:
                title = rng.choice(WIKI_OTHER_NS) + ":" + title
                other_ns += 1
            if redirect:
                target_title = gen.phrase(1, 3).title()
                text = "#REDIRECT [[" + target_title + "]]"
                redirect_el = f'    <redirect title="{target_title}" />\n'
                redirects += 1
            else:
                n = int(min(WIKI_LEN_MAX, max(WIKI_LEN_MIN,
                                              rng.lognormvariate(WIKI_LEN_MU, WIKI_LEN_SIGMA))))
                text = gen.body(n)
                lengths.append(n)
                redirect_el = ""
            put(f"  <page>\n    <title>{title}</title>\n    <ns>0</ns>\n"
                f"    <id>{pages}</id>\n{redirect_el}    <revision>\n"
                f"      <id>{pages + 1000000}</id>\n"
                f'      <text xml:space="preserve">{text}</text>\n'
                f"    </revision>\n  </page>\n")
        if i == WIKI_PARTS - 1:
            put("</mediawiki>\n")
        part.close()
    lengths.sort()
    _write_meta(out_dir, {
        "bytes": written, "pages": pages, "redirects": redirects,
        "other_ns_pages": other_ns,
        "words_p50": lengths[len(lengths) // 2] if lengths else 0,
        "words_p99": lengths[int(len(lengths) * 0.99)] if lengths else 0,
        "words_max": lengths[-1] if lengths else 0,
    })


# -------------------------------------------------------------- curate_corpus

# Kept languages follow the c01_curate config; each is written with
# stopwords unique to it, so the language vote is unambiguous.
CURATE_KEPT_LANGS = {
    "en": ["the", "of", "and", "to", "that", "it", "was", "for", "with"],
    "fr": ["le", "les", "et", "une", "du", "dans", "pour"],
    "es": ["el", "los", "las", "y", "del", "por", "con"],
    "de": ["der", "die", "das", "und", "den", "von", "zu", "mit"],
}
CURATE_DROPPED_LANGS = {
    "it": ["il", "di", "che", "per", "sono", "gli", "anche"],
    "pt": ["do", "da", "em", "um", "para", "não", "mais"],
    "sv": ["och", "att", "som", "på", "är", "av", "för"],
}
CURATE_MIX = {  # share of base documents by class
    "kept_lang": 0.72, "dropped_lang": 0.12, "low_quality": 0.08,
    "exact_twin": 0.03, "near_twin": 0.03, "contaminated": 0.02,
}
CURATE_ZIPF_S = 1.0
CURATE_STOP_FRAC = 0.30
CURATE_EVAL_DOCS = 40


def _curate_text(rng, zipf, stops, n):
    toks = []
    for _ in range(n):
        if rng.random() < CURATE_STOP_FRAC:
            toks.append(rng.choice(stops))
        else:
            toks.append(VOCAB[zipf.draw(rng)])
    return toks


def curate_corpus(seed, n_docs, out_dir):
    """`docs.parquet` (doc_id, text) plus `eval.parquet`, the eval set."""
    rng = random.Random(seed)
    zipf = Zipf(len(VOCAB), CURATE_ZIPF_S)
    eval_texts = [" ".join(EVAL_VOCAB[rng.randrange(len(EVAL_VOCAB))]
                           for _ in range(rng.randint(40, 80)))
                  for _ in range(CURATE_EVAL_DOCS)]
    kept_langs = list(CURATE_KEPT_LANGS)
    dropped_langs = list(CURATE_DROPPED_LANGS)
    ids, texts = [], []
    originals = []  # ids of kept-language, good-quality docs
    planted = {"exact_twin": [], "near_twin": [], "contaminated": []}
    counts = {k: 0 for k in CURATE_MIX}
    classes = list(CURATE_MIX)
    weights = [CURATE_MIX[c] for c in classes]
    doc_id = 1000
    while len(ids) < n_docs:
        cls = rng.choices(classes, weights)[0]
        if cls in ("exact_twin", "near_twin", "contaminated") and len(originals) < 20:
            cls = "kept_lang"
        n = int(min(400, max(70, rng.lognormvariate(5.0, 0.5))))
        if cls == "kept_lang":
            toks = _curate_text(rng, zipf, CURATE_KEPT_LANGS[rng.choice(kept_langs)], n)
        elif cls == "dropped_lang":
            toks = _curate_text(rng, zipf, CURATE_DROPPED_LANGS[rng.choice(dropped_langs)], n)
        elif cls == "low_quality":  # too short: quality = tokens / 64 < 0.3
            toks = _curate_text(rng, zipf, CURATE_KEPT_LANGS["en"], rng.randint(4, 16))
        elif cls == "exact_twin":
            src = rng.choice(originals)
            toks = texts[src].split(" ")
        elif cls == "near_twin":
            src = rng.choice(originals)
            toks = texts[src].split(" ")
            for _ in range(max(1, len(toks) // 100)):
                toks[rng.randrange(len(toks))] = VOCAB[zipf.draw(rng)]
        else:  # contaminated: a 12-token span of an eval doc
            toks = _curate_text(rng, zipf, CURATE_KEPT_LANGS["en"], n)
            ev = rng.choice(eval_texts).split(" ")
            at = rng.randrange(len(ev) - 12)
            pos = rng.randrange(len(toks))
            toks[pos:pos] = ev[at:at + 12]
        text = " ".join(toks)
        if cls in planted:
            planted[cls].append(doc_id)
        if cls == "kept_lang":
            originals.append(len(ids))
        counts[cls] += 1
        ids.append(doc_id)
        texts.append(text)
        doc_id += 1 + (rng.random() < 0.1)  # ids with gaps
    # shuffle row order so twins are not adjacent to their originals
    order = list(range(len(ids)))
    rng.shuffle(order)
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(out_dir, "docs.parquet"), row_group_size=4096)
    pq.write_table(pa.table({"text": pa.array(eval_texts, pa.string())}),
                   os.path.join(out_dir, "eval.parquet"))
    _write_meta(out_dir, {
        "docs": len(ids), "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "class_counts": counts, "planted": planted,
        "eval_docs": CURATE_EVAL_DOCS,
    })


# ---------------------------------------------------------------- serve_mixed

SERVE_ZIPF_S = 1.1
SERVE_VOCAB = 20000
SERVE_BM25_PER_BATCH = 8
SERVE_PHRASES_PER_BATCH = 4
SERVE_APPEND_DOCS = 40
SERVE_BATCHES = 200  # pool; a run uses as many as its time allows


def _serve_doc(rng, zipf):
    n = int(min(600, max(20, rng.lognormvariate(4.6, 0.6))))
    return " ".join(VOCAB[r] for r in zipf.draws(rng, n))


def serve_mixed(seed, n_docs, out_dir):
    """`corpus.parquet`, `appends.parquet` (batch, doc_id, text) and
    `queries.json` (bm25 and phrase batches)."""
    rng = random.Random(seed)
    zipf = Zipf(SERVE_VOCAB, SERVE_ZIPF_S)
    texts = [_serve_doc(rng, zipf) for _ in range(n_docs)]
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(out_dir, "corpus.parquet"), row_group_size=8192)
    n_append_batches = SERVE_BATCHES // 5
    a_batch, a_id, a_text = [], [], []
    next_id = n_docs
    for b in range(n_append_batches):
        for _ in range(SERVE_APPEND_DOCS):
            a_batch.append(b)
            a_id.append(next_id)
            a_text.append(_serve_doc(rng, zipf))
            next_id += 1
    pq.write_table(pa.table({"batch": pa.array(a_batch, pa.int32()),
                             "doc_id": pa.array(a_id, pa.int64()),
                             "text": pa.array(a_text, pa.string())}),
                   os.path.join(out_dir, "appends.parquet"))
    bm25, phrase = [], []
    for _ in range(SERVE_BATCHES):
        bm25.append([" ".join(VOCAB[r] for r in zipf.draws(rng, rng.randint(1, 3)))
                     for _ in range(SERVE_BM25_PER_BATCH)])
        batch = []
        for _ in range(SERVE_PHRASES_PER_BATCH):
            # each phrase is a span of an indexed document, which must match
            src = rng.randrange(n_docs)
            toks = texts[src].split(" ")
            k = rng.randint(2, 3)
            at = rng.randrange(len(toks) - k)
            batch.append([" ".join(toks[at:at + k]), src])
        phrase.append(batch)
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump({"bm25": bm25, "phrase": phrase}, f)
    _write_meta(out_dir, {
        "docs": n_docs, "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "append_batches": n_append_batches, "append_docs": SERVE_APPEND_DOCS,
        "zipf_s": SERVE_ZIPF_S, "vocab": SERVE_VOCAB,
    })


GENERATORS = {
    "wiki_extract": wiki_dump,
    "curate_corpus": curate_corpus,
    "serve_mixed": serve_mixed,
}


def ensure(workload, seed, size, cache_root):
    """Generate the workload's inputs unless (seed, size) is cached.

    Writes into a temporary sibling and renames it into place, so an
    interrupted generation never leaves a partial cache entry.
    """
    out = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    GENERATORS[workload](seed, size, tmp)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    import sys
    import time
    w, s, n, root = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4]
    t0 = time.time()
    print(ensure(w, s, n if w == "wiki_extract" else int(n), root), time.time() - t0)
