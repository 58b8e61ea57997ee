"""Seeded input generators for the benchmark workloads.

The seed is the only argument: the same (workload, seed) always yields the
same rows, and the Spark program only ever sees the parquet files written
here. Every token is lowercase (the delimiter tokenizers de-duplicate before
lowercasing, so case variants would change the token multiset; see the
lowercase note in JaccardPropertySpec).

Seed invariance: every count that shapes the join's work is a fixed quota,
not a random draw. Record, copy and duplicate counts are constants; the
number of edits per copy, the middle-initial share and the document lengths
follow fixed histograms; and each Zipf vocabulary is sampled by its expected
count per rank (`_quota`), so token frequencies are the same for every seed.
Word shapes are fixed per rank too (`_words`). The seed decides only which
letters the words have and where they land, so exact counts (pairs out,
shuffle bytes, cached bytes) barely move across seeds.
The shape constants of each workload sit in SHAPES.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_STATES = ["nsw", "vic", "qld", "wa", "sa", "tas", "act", "nt"]
HOT_SUFFIXES = ["street", "road", "avenue", "drive", "lane", "court", "place", "crescent"]

SHAPES = {
    # FEBRL-style person profiles (given, surname, street no, street, suffix,
    # suburb, state, postcode, birth date, id number). `copies` records are
    # corrupted copies of distinct originals; the (original, copy) pairs are
    # the ground truth. A copy gets 1-4 edits (histogram `edits`); `deletes`
    # of all edits drop a field instead of mistyping it.
    "profiles_sweep": dict(records=6000, copies=1200, zipf=1.05,
                           given=3000, surnames=8000, streets=2500, suburbs=1500,
                           edits={1: 0.4, 2: 0.3, 3: 0.2, 4: 0.1}, deletes=0.2),
    # Short "given [initial] surname" names, R x S. `copies` of the right
    # side are copies of distinct left names with 1 or 2 typos; the other
    # right names share the given names but take surnames built from
    # onsets the left side never uses. Their one-sided q-grams make the
    # right side the one with more widow prefix rows, so rsJoin indexes
    # the right side for every seed (with shared surnames the widow counts
    # were 4-22 per side and the side flipped from seed to seed).
    "names_rs": dict(left=3000, right=750, copies=225, zipf=1.1, initial=0.3,
                     given=2000, surnames=6000, foreign=1500, typos={1: 0.5, 2: 0.5}),
    # Long documents over a Zipf vocabulary. `exact` records repeat another
    # document verbatim (value dedupe); `near` records copy one with
    # `swaps` tokens replaced, straddling the t = 0.9 cut (a 120-token copy
    # stays above it with up to 6 swaps).
    "docs_dedup": dict(records=6000, exact=600, near=600, vocab=40000, zipf=1.0,
                       lengths=(100, 160), swaps={2: 0.25, 4: 0.25, 8: 0.25, 12: 0.25}),
}

ONSETS = (list("bcdfghjklmnprstvwz"), ["ch", "sh", "th", "br", "kr", "st"])
# onsets no other word uses: q-grams of these words occur on one side only
FOREIGN_ONSETS = (list("qxy"), ["qu", "xy", "yq"])
NUCLEI = (list("aeiou"), ["ai", "ea", "ou"])
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _words(rng, n, min_syl, max_syl, onsets=ONSETS):
    """`n` distinct lowercase pseudo-words of random syllables. Word i's
    shape is fixed by i alone: its syllable count, which onsets and vowels
    are one letter or two, and whether it ends in a consonant. So a
    vocabulary's length profile over its frequency ranks is the same for
    every seed, and only the letters change."""
    out, seen = [], set()
    span = max_syl - min_syl + 1
    for i in range(n):
        shape = [(onsets[(i + j) % 4 == 0], NUCLEI[(i + j) % 5 == 0])
                 for j in range(max_syl - i % span)]
        if i % 10 < 3:
            shape.append((ONSETS[0], [""]))
        for _ in range(1000):
            w = "".join(on[int(rng.integers(len(on)))] + nu[int(rng.integers(len(nu)))]
                        for on, nu in shape)
            if w not in seen:
                break
        else:
            raise ValueError(f"too few distinct words of shape {i} for a vocabulary of {n}")
        seen.add(w)
        out.append(w)
    return out


def _counts(weights, size):
    """Largest-remainder apportionment of `size` items over `weights`."""
    p = np.asarray(weights, dtype=float)
    exact = p / p.sum() * size
    c = np.floor(exact).astype(np.int64)
    c[np.argsort(-(exact - c), kind="stable")[:size - int(c.sum())]] += 1
    return c


def _quota(rng, weights, size):
    """`size` indices into `weights`, each index exactly as often as its
    share dictates, in random order."""
    return rng.permutation(np.repeat(np.arange(len(weights)), _counts(weights, size)))


def _zipf(rng, n, skew, size):
    """`size` ranks in [0, n), rank r held by a share proportional to
    1/(r+1)^skew, in random order."""
    return _quota(rng, 1.0 / np.arange(1, n + 1) ** skew, size)


def _hist(rng, hist, size):
    """`size` values of the histogram {value: share} in random order."""
    vals = sorted(hist)
    return np.asarray(vals)[_quota(rng, [hist[v] for v in vals], size)]


def _typo(rng, w):
    """One random character substitution, insertion, deletion or swap."""
    i = int(rng.integers(len(w)))
    op = int(rng.integers(4))
    c = LETTERS[int(rng.integers(26))]
    if op == 0:
        return w[:i] + c + w[i + 1:]
    if op == 1:
        return w[:i] + c + w[i:]
    if op == 2 and len(w) > 1:
        return w[:i] + w[i + 1:]
    if i + 1 < len(w):
        return w[:i] + w[i + 1] + w[i] + w[i + 2:]
    return w + c


def _profiles(rng, s):
    given = _words(rng, s["given"], 2, 3)
    surnames = _words(rng, s["surnames"], 2, 4)
    streets = _words(rng, s["streets"], 2, 3)
    suburbs = _words(rng, s["suburbs"], 2, 4)
    suburb_state = _zipf(rng, len(HOT_STATES), 1.0, len(suburbs))
    suburb_post = rng.integers(1000, 10000, size=len(suburbs))
    n, n_dup = s["records"], s["copies"]
    n_orig = n - n_dup
    gi = _zipf(rng, len(given), s["zipf"], n_orig)
    si = _zipf(rng, len(surnames), s["zipf"], n_orig)
    st = _zipf(rng, len(streets), s["zipf"], n_orig)
    sx = _zipf(rng, len(HOT_SUFFIXES), 1.0, n_orig)
    sb = _zipf(rng, len(suburbs), s["zipf"], n_orig)
    no = rng.integers(1, 2000, size=n_orig)
    dob = rng.integers(0, 365 * 80, size=n_orig)
    pid = rng.integers(1000000, 10000000, size=n_orig)
    rows = []
    for i in range(n_orig):
        y, d = divmod(int(dob[i]), 365)
        rows.append([given[gi[i]], surnames[si[i]], str(no[i]), streets[st[i]],
                     HOT_SUFFIXES[sx[i]], suburbs[sb[i]], HOT_STATES[suburb_state[sb[i]]],
                     str(suburb_post[sb[i]]), "%04d%02d%02d" % (1930 + y, d // 31 + 1, d % 28 + 1),
                     str(pid[i])])
    src = rng.choice(n_orig, size=n_dup, replace=False)
    edits = _hist(rng, s["edits"], n_dup)
    deletes = _quota(rng, [1 - s["deletes"], s["deletes"]], int(edits.sum()))
    e = 0
    for j in range(n_dup):
        toks = list(rows[src[j]])
        for _ in range(int(edits[j])):
            k = int(rng.integers(len(toks)))
            if deletes[e]:
                del toks[k]
            else:
                toks[k] = _typo(rng, toks[k])
            e += 1
        rows.append(toks)
    ids = rng.permutation(n)          # ids[k] is record k's id
    profile = [None] * n
    for k in range(n):
        profile[ids[k]] = " ".join(rows[k])
    return {"profiles": {"id": list(range(n)), "profile": profile},
            "truth": {"l_id": [int(ids[src[j]]) for j in range(n_dup)],
                      "r_id": [int(ids[n_orig + j]) for j in range(n_dup)]}}


def _names(rng, s):
    given = _words(rng, s["given"], 2, 3)
    surnames = _words(rng, s["surnames"], 2, 3)

    def draw(m, surnames):
        g = _zipf(rng, len(given), s["zipf"], m)
        f = _zipf(rng, len(surnames), s["zipf"], m)
        init = rng.integers(0, 26, size=m)
        mid = _quota(rng, [1 - s["initial"], s["initial"]], m)
        return [given[g[i]] + (" " + LETTERS[int(init[i])] if mid[i] else "") +
                " " + surnames[f[i]] for i in range(m)]

    left = draw(s["left"], surnames)
    n_copy = s["copies"]
    right = draw(s["right"] - n_copy, _words(rng, s["foreign"], 3, 4, FOREIGN_ONSETS))
    typos = _hist(rng, s["typos"], n_copy)
    for k, n_typo in zip(rng.choice(len(left), size=n_copy, replace=False), typos):
        name = left[k]
        for _ in range(int(n_typo)):
            name = _typo(rng, name)
        right.append(name.strip() or left[k])
    right = [right[k] for k in rng.permutation(len(right))]
    return {"names_l": {"id": list(range(len(left))), "name": left},
            "names_r": {"id": list(range(len(right))), "name": right}}


def _docs(rng, s):
    vocab = np.asarray(_words(rng, s["vocab"], 3, 5), dtype=object)
    n, n_exact, n_near = s["records"], s["exact"], s["near"]
    n_orig = n - n_exact - n_near
    lo, hi = s["lengths"]
    lengths = _quota(rng, np.ones(hi - lo + 1), n_orig) + lo
    stream = _zipf(rng, len(vocab), s["zipf"], int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    docs = [list(d) for d in np.split(stream, cuts)]
    src = rng.choice(n_orig, size=n_exact + n_near, replace=False)
    for k in src[:n_exact]:
        docs.append(docs[k])
    swaps = _hist(rng, s["swaps"], n_near)
    fresh = _zipf(rng, len(vocab), s["zipf"], int(swaps.sum()))
    f = 0
    for k, m in zip(src[n_exact:], swaps):
        d = list(docs[k])
        for i in rng.choice(len(d), size=int(m), replace=False):
            d[i] = fresh[f]
            f += 1
        docs.append(d)
    ids = rng.permutation(n)          # ids[k] is record k's id
    text = [None] * n
    for k in range(n):
        text[ids[k]] = " ".join(vocab[docs[k]])
    return {"docs": {"id": list(range(n)), "doc": text}}


GENERATORS = {"profiles_sweep": _profiles, "names_rs": _names, "docs_dedup": _docs}


def source_digest():
    """Digest of this generator's source: cached inputs are keyed on it."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def generate(workload, seed, out_dir):
    """Write the workload's tables as `<out_dir>/<table>.parquet` and return
    the manifest: per-table row counts and a digest of the row contents."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    tables = GENERATORS[workload](rng, SHAPES[workload])
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    rows = {}
    for name in sorted(tables):
        cols = tables[name]
        keys = list(cols)
        for rec in zip(*(cols[k] for k in keys)):
            h.update(("\t".join(map(str, rec)) + "\n").encode())
        arrays = [pa.array(cols[k], type=pa.int64() if k.endswith("id") else pa.string())
                  for k in keys]
        pq.write_table(pa.table(arrays, names=keys), os.path.join(out_dir, name + ".parquet"))
        rows[name] = len(cols[keys[0]])
    manifest = {"workload": workload, "seed": seed, "shape": SHAPES[workload],
                "rows": rows, "digest": h.hexdigest()}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
