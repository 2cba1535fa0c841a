"""Seeded, single-threaded input generators for the three workloads.

Every generator draws from its own ``random.Random(seed)`` and writes
plain files (CSV / JSON lines), so the same seed gives byte-identical
inputs and the program under test only ever sees those files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

The traffic parameters in ``workloads.json`` are assumptions, chosen
for the code paths they exercise; none is fitted to a real tweet sample.
The mix is not a measured one:

* ``zipf_s`` 1.2 over a head of ~470 lexicon and filler words and a
  ``misspelling_tail`` of 200k: word frequencies in text are usually
  modelled as Zipf with an exponent near 1.  With these values about 20%
  of token draws land in the tail, which the scorer resolves by its
  Levenshtein fuzzy fallback.  The tail is larger than the 131,072-entry
  fuzzy memo, so the memo cannot hold every miss.
* ``noise`` rates (RT 0.15, mention 0.35, hashtag 0.25, URL 0.2,
  emoticon 0.25): chosen so that every cleaning rule fires on a fair
  share of rows.
* curate ``*_dup_rate`` 0.06 each: enough planted duplicates per batch
  that each dedup phase (exact, near, semantic) has work.
* index ``clusters`` 24 and ``cluster_spread`` 0.35: clustered enough
  that IVF probing of 4 of 16 cells keeps recall@10 near 1.
"""

import csv
import datetime
import functools
import json
import os
import string
import sys
from itertools import accumulate
from random import Random

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(HERE, "workloads.json")) as f:
    PARAMS = json.load(f)

# Words of the Hu & Liu opinion lexicon the scorer ships with (exact
# dictionary hits), and everyday filler (stop words and neutral words,
# mostly dictionary misses that end in the fuzzy fallback).
POSITIVE = """good great love loved lovely happy nice best better awesome amazing
fun cool excellent fantastic wonderful beautiful perfect glad enjoy enjoyed
like liked thanks thank win won wins smile sweet fresh free easy fast
favorite fine gorgeous incredible kind lucky proud ready safe super support
brilliant calm cheer clean clever comfortable congrats cute delight
exciting fair famous friendly funny generous gentle gifted grateful
healthy helpful honest hot hope humor ideal impressive joy joyful keen
laugh lively loyal magic marvelous merry neat novel okay peace pleasant
pleased polite positive pretty pure quiet rich right romantic satisfied
secure sharp shiny smart smooth soft solid sparkling stable strong
stunning success successful sunny superb sure thrill tidy top trust
truth useful valuable vibrant victory warm wealthy welcome well wise
worth wow yay adore bless blessed bright""".split()
NEGATIVE = """bad worst hate hated sad awful terrible horrible sick tired bored
boring angry annoyed annoying broken cry crying damn dead die dirty
disappointed disgusting dull fail failed fake fear foolish hurt ill lame
lonely lose lost mad mean mess miss missed nasty never pain poor problem
rude scared shame sorry stupid suck sucks ugly upset useless weak wrong
worry worried afraid alone anxious ache bitter blame bleak brutal
careless cheap chaos clumsy cold complain confused cranky crap crash
cruel damage danger dark defeat delay deny desperate destroy difficult
dismal doubt dread drown dumb evil exhausted expensive fat fault freak
frustrated grim gross guilty harm harsh heavy helpless hopeless hostile
hungry insane jealous junk kill late lazy lie liar losing mediocre
messy moan naive nervous noisy nuts odd outrage pathetic poison
problems punish regret reject risk ruin scream selfish shock sloppy
slow smelly sore stuck terrible trouble unfair unhappy vile""".split()
FILLER = """the a an to of and in is it you that he was for on are with as i
his they be at one have this from or had by not word but what some we can
out other were all there when up use your how said each she which do
their time if will way about many then them write would so these her long
make thing see him two has look more day could go come did number sound
no most people my over know water than call first who may down side been
now find any new work part take get place made live where after back
little only round man year came show every me give our under name very
through just form sentence much think say help line turn cause same move
boy old too does tell set three want air also play small end put home
read hand port large spell add even land here must big high such follow
act why ask men change went light off need house picture try us again
animal point mother world near build self earth father head stand own
page should country found answer school grow study still learn plant
cover food sun four between state keep eye last let thought city tree
cross farm hard start might story saw far sea draw left run today""".split()
EMOTICONS = [":)", ":(", ":D", ";)", ":-(", "<3", ":P", ":/", ":-)", "XD"]
STOP = "the be to of and a in that have it for not on with he as you do at".split()
LETTERS = string.ascii_lowercase


def _dedup(words):
    seen, out = set(), []
    for w in words:
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _misspell(rng, word):
    """One to three random character edits of ``word``."""
    w = list(word)
    for _ in range(rng.randint(1, 3)):
        op = rng.randrange(4)
        i = rng.randrange(len(w))
        if op == 0:
            w[i] = rng.choice(LETTERS)
        elif op == 1:
            w.insert(i, rng.choice(LETTERS))
        elif op == 2 and len(w) > 3:
            del w[i]
        elif i + 1 < len(w):
            w[i], w[i + 1] = w[i + 1], w[i]
    return "".join(w)


@functools.lru_cache(maxsize=1)
def tweet_vocabulary():
    """Zipf-ranked vocabulary: the shuffled head (lexicon and filler
    words) followed by a tail of distinct misspellings of head words.
    Fixed, not drawn from the run's seed: every seed samples the same
    distribution, so a run's scoring cost and label agreement do not
    depend on which words a seed happened to rank first."""
    p = PARAMS["sentiment_score"]
    rng = Random(0)
    lexicon = _dedup(POSITIVE + NEGATIVE)[: p["lexicon_words"]]
    filler = _dedup(FILLER)[: p["filler_words"]]
    head = lexicon + [w for w in filler if w not in set(lexicon)]
    rng.shuffle(head)
    known = set(head)
    seeds = [w for w in head if len(w) >= 3]
    tail, seen = [], set()
    while len(tail) < p["misspelling_tail"]:
        m = _misspell(rng, rng.choice(seeds))
        if m not in known and m not in seen:
            seen.add(m)
            tail.append(m)
    vocab = head + tail
    cum = list(accumulate((r + 1) ** -p["zipf_s"] for r in range(len(vocab))))
    return vocab, cum


POLARITY = dict([(w, 1) for w in POSITIVE] + [(w, -1) for w in NEGATIVE])


def _tweet(rng, vocab, cum, p):
    """A tweet text and its label: 4 when it draws more positive than
    negative lexicon words, 0 when fewer, a coin flip on a tie."""
    lo, hi = p["tokens_per_tweet"]
    words = rng.choices(vocab, cum_weights=cum, k=rng.randint(lo, hi))
    lean = sum(POLARITY.get(w, 0) for w in words)
    label = 4 if lean > 0 else 0 if lean < 0 else rng.choice((0, 4))
    words = [w.capitalize() if rng.random() < 0.1 else w for w in words]
    noise = p["noise"]
    if rng.random() < noise["hashtag"]:
        i = rng.randrange(len(words))
        words[i] = "#" + words[i]
    if rng.random() < noise["mention"]:
        words.insert(rng.randrange(len(words) + 1), "@" + _name(rng))
    if rng.random() < noise["emoticon"]:
        words.insert(rng.randrange(len(words) + 1), rng.choice(EMOTICONS))
    if rng.random() < noise["url"]:
        words.append("http://t.co/" + "".join(rng.choices(LETTERS + "0123456789", k=8)))
    if rng.random() < noise["rt"]:
        words = ["RT", "@" + _name(rng) + ":"] + words
    return " ".join(words), label


def _name(rng):
    return "".join(rng.choices(LETTERS + "_0123456789", k=rng.randint(4, 12)))


def tweet_texts(seed, n):
    """``n`` tweet texts from the sentiment_score distribution."""
    p = PARAMS["sentiment_score"]
    rng = Random(seed)
    vocab, cum = tweet_vocabulary()
    return [_tweet(rng, vocab, cum, p)[0] for _ in range(n)]


def gen_sentiment(seed, out):
    """Sentiment140-shaped headered CSVs, one per CLI call."""
    p = PARAMS["sentiment_score"]
    rng = Random(seed)
    vocab, cum = tweet_vocabulary()
    base = datetime.datetime(2009, 4, 6, 22, 19, 45)
    os.makedirs(out, exist_ok=True)
    next_id = 1467810369 + rng.randrange(1000)
    for f in range(p["files"]):
        with open(os.path.join(out, "part-%03d.csv" % f), "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(["polarity", "id", "date", "query", "user", "text"])
            for _ in range(p["rows_per_file"]):
                next_id += rng.randint(1, 50)
                ts = base + datetime.timedelta(seconds=next_id % 5000000)
                text, label = _tweet(rng, vocab, cum, p)
                w.writerow([label, next_id, ts.strftime("%a %b %d %H:%M:%S PDT %Y"),
                            "NO_QUERY", _name(rng), text])
    return {"files": p["files"], "rows_per_file": p["rows_per_file"]}


def _vec(rng, dim):
    return [round(rng.gauss(0.0, 1.0), 5) for _ in range(dim)]


def gen_curate(seed, out):
    """Micro-batches of docs with planted exact, near and vector dups.

    A planted duplicate always copies an earlier "clean" doc (one that
    is not itself planted), so first-arrival semantics keep the
    original and must drop the copy."""
    p = PARAMS["curate_stream"]
    rng = Random(seed)
    vocab = []
    seen = set()
    while len(vocab) < p["vocabulary"]:
        w = "".join(rng.choices(LETTERS, k=rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    lo, hi = p["words_per_doc"]
    clean = []  # (text, vec) of non-planted docs
    plants = {"exact": [], "near": [], "vector": []}
    os.makedirs(out, exist_ok=True)
    doc_id = 1000
    for b in range(p["batches"]):
        with open(os.path.join(out, "batch-%03d.json" % b), "w") as fh:
            for _ in range(p["docs_per_batch"]):
                doc_id += 1
                r = rng.random()
                kind = None
                if clean:
                    if r < p["exact_dup_rate"]:
                        kind = "exact"
                    elif r < p["exact_dup_rate"] + p["near_dup_rate"]:
                        kind = "near"
                    elif r < p["exact_dup_rate"] + p["near_dup_rate"] + p["vector_dup_rate"]:
                        kind = "vector"
                words = [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(vocab)
                         for _ in range(rng.randint(lo, hi))]
                text, vec = " ".join(words), _vec(rng, p["dim"])
                if kind == "exact":
                    text = rng.choice(clean)[0]
                elif kind == "near":
                    ws = rng.choice(clean)[0].split(" ")
                    ws[rng.randrange(len(ws))] = rng.choice(vocab)
                    text = " ".join(ws)
                elif kind == "vector":
                    vec = rng.choice(clean)[1]
                if kind:
                    plants[kind].append(doc_id)
                else:
                    clean.append((text, vec))
                fh.write(json.dumps({"doc_id": doc_id, "source": "s", "text": text,
                                     "vec": vec}) + "\n")
    with open(os.path.join(out, "plants.json"), "w") as fh:
        json.dump(plants, fh, sort_keys=True)
    return {"batches": p["batches"], "docs_per_batch": p["docs_per_batch"],
            "planted": {k: len(v) for k, v in sorted(plants.items())}}


def gen_index(seed, out):
    """Clustered embeddings: a fit corpus, append batches, queries."""
    p = PARAMS["index_serve"]
    rng = Random(seed)
    dim = p["dim"]
    centers = [_vec(rng, dim) for _ in range(p["clusters"])]

    def point():
        c = rng.choice(centers)
        return [round(x + rng.gauss(0.0, p["cluster_spread"]), 5) for x in c]

    os.makedirs(out, exist_ok=True)
    ids = []

    def write(name, n, start):
        with open(os.path.join(out, name), "w") as fh:
            for i in range(start, start + n):
                ids.append(i)
                fh.write(json.dumps({"vec_id": i, "embedding": point()}) + "\n")
        return start + n

    nxt = write("fit.json", p["fit_rows"], 0)
    for a in range(p["append_batches"]):
        nxt = write("append-%03d.json" % a, p["append_rows"], nxt)
    fit_ids = ids[: p["fit_rows"]]
    with open(os.path.join(out, "queries.json"), "w") as fh:
        vectors = {}
        for name in sorted(os.listdir(out)):
            if name.startswith(("fit", "append")):
                with open(os.path.join(out, name)) as src:
                    for line in src:
                        row = json.loads(line)
                        vectors[row["vec_id"]] = row["embedding"]
        for q in rng.sample(ids, p["batch_queries"]):
            fh.write(json.dumps({"vec_id": q, "embedding": vectors[q]}) + "\n")
    singles = rng.sample(fit_ids, p["single_searches"])
    with open(os.path.join(out, "single_queries.json"), "w") as fh:
        json.dump(singles, fh)
    return {"rows": len(ids), "dim": dim}


def gen_probes(out):
    """The fixed (seed-independent) driver-side kernel sample."""
    p = PARAMS["probes"]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "probe_texts.txt"), "w") as fh:
        for t in tweet_texts(0, p["texts"]):
            fh.write(t + "\n")


GENERATORS = {"sentiment_score": gen_sentiment, "curate_stream": gen_curate,
              "index_serve": gen_index}

# Workloads whose traced runs also drive another workload's lifecycle,
# whose inputs then live under ``<out>/<other>/inputs``.
TRACED_WITH = {"index_serve": "curate_stream"}


def generate(workload, seed, out):
    info = GENERATORS[workload](seed, os.path.join(out, "inputs"))
    if workload in TRACED_WITH:
        other = TRACED_WITH[workload]
        GENERATORS[other](seed, os.path.join(out, other, "inputs"))
    gen_probes(os.path.join(out, "probes"))
    return info


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py <%s> <seed> <out_dir>" % "|".join(GENERATORS))
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
