"""Seeded input generators for the benchmark workloads.

Each generator takes the seed, writes its files under `<out>/` and returns a
ground-truth record (row counts, planted shares, expected answers). The
program under test only ever receives the files; the ground truth stays with
the benchmark and feeds the output checks in `checks.py`.

    vehicles     a dirty 26-column vehicles CSV of about 100 MB
    intake       a training-document corpus, half the sf0.1 documents table
"""
import csv
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# vehicles
# --------------------------------------------------------------------------

VEHICLE_COLUMNS = [
    "id", "url", "region", "region_url", "price", "year", "manufacturer",
    "model", "condition", "cylinders", "fuel", "odometer", "title_status",
    "transmission", "VIN", "drive", "size", "type", "paint_color",
    "image_url", "description", "county", "state", "lat", "long",
    "posting_date"]

VEHICLES_ROWS = 30_000
VEHICLES_TARGET_BYTES = 100_000_000
RECOMMEND_QUERIES = 2
REC_MATCHES = 60

# (manufacturer, weight, price premium). The last one has no `Made` group,
# so the recommendation filter drops it. Every categorical column keeps at
# most 32 distinct values: the tree models treat the indexed columns as
# categorical features, and their default maxBins is 32.
MANUFACTURERS = [
    ("ford", 16, 1500), ("chevrolet", 14, 1200), ("toyota", 10, 2500),
    ("honda", 6, 2000), ("nissan", 5, 500), ("jeep", 4, 2200),
    ("ram", 4, 3000), ("gmc", 4, 2800), ("dodge", 3, 600),
    ("bmw", 3, 4500), ("subaru", 3, 1800), ("hyundai", 3, 0),
    ("volkswagen", 3, 800), ("kia", 3, -200), ("mercedes-benz", 3, 5000),
    ("lexus", 2, 5200), ("mazda", 2, 900), ("audi", 2, 4300),
    ("cadillac", 2, 3500), ("chrysler", 2, 300), ("buick", 2, 700),
    ("acura", 1, 2600), ("infiniti", 1, 2400), ("lincoln", 1, 3300),
    ("volvo", 1, 2900), ("mini", 1, 1000), ("porsche", 1, 9000),
    ("land rover", 1, 7000), ("jaguar", 1, 6000), ("tesla", 1, 9500),
    ("aston-martin", 1, 12000)]

MADE = {
    "American": ["harley-davidson", "chevrolet", "pontiac", "ram", "ford",
                 "gmc", "tesla", "jeep", "dodge", "cadillac", "chrysler",
                 "lincoln", "buick", "saturn", "mercury"],
    "Japanese": ["lexus", "nissan", "toyota", "acura", "honda", "infiniti",
                 "subaru", "mitsubishi", "datsun", "mazda"],
    "German": ["volkswagen", "mercedes-benz", "bmw", "audi", "porsche"],
    "Italian": ["ferrari", "fiat", "alfa-romeo"],
    "Korean": ["kia", "hyundai"],
    "Swedish": ["volvo"],
    "English": ["rover", "mini", "land rover", "jaguar"]}
MADE_OF = {m: made for made, ms in MADE.items() for m in ms}

LIGHT_COLORS = ["white", "silver", "yellow", "orange", "green", "custom"]
DARK_COLORS = ["black", "red", "blue", "purple", "grey", "brown"]
TYPE_GROUPS = {
    "luxury_small": ["sedan", "convertible", "coupe", "hatchback", "other"],
    "luxury_large": ["SUV", "wagon"],
    "non-luxury_small": ["pickup", "truck", "offroad"],
    "non-luxury_large": ["van", "mini-van", "bus"]}
TYPE_GROUP_OF = {t: g for g, ts in TYPE_GROUPS.items() for t in ts}
TYPE_EFFECT = {"sedan": 0, "convertible": 1500, "coupe": 800, "hatchback": -500,
               "other": 0, "SUV": 1800, "wagon": 300, "pickup": 2500,
               "truck": 2700, "offroad": 1200, "van": 600, "mini-van": 200,
               "bus": 1000}
MODELS = [f"{w}-{k}" for w in ("sport", "base", "touring", "limited", "classic") for k in range(6)]
CONDITIONS = ["good", "excellent", "like new", "fair", "new", "salvage", "parts only"]
FUELS = ["gas", "diesel", "hybrid", "electric", "other"]
TITLES = ["clean", "rebuilt", "lien", "missing", "parts only"]
TRANSMISSIONS = ["automatic", "manual", "other"]
STATES = ["ca", "tx", "fl", "ny", "wa", "or", "mi", "oh", "pa", "il", "nc",
          "ga", "az", "co", "va", "nj", "tn", "wi", "mn", "ma"]
REGIONS = ["sfbay", "losangeles", "seattle", "portland", "houston", "austin",
           "miami", "orlando", "newyork", "chicago", "detroit", "denver",
           "phoenix", "atlanta", "boston", "nashville"]
CAR_WORDS = (
    "runs great clean title low miles new tires brakes engine transmission "
    "interior leather seats sunroof navigation backup camera bluetooth "
    "warranty maintenance records one owner garage kept highway commuter "
    "family reliable fuel efficient power steering windows locks cruise "
    "control alloy wheels towing package four wheel drive all season "
    "recently serviced oil change timing belt inspection smog passed "
    "priced to sell must see no accidents carfax available text only "
    "serious buyers cold air heated mirrors keyless entry remote start "
    "third row seating cargo space roof rack tinted windows premium sound "
    "system spare key detailed inside out minor scratches small dent").split()


def _made_of(m):
    return MADE_OF.get(m)


def gen_vehicles(seed, out):
    """A dirty vehicles CSV (`vehicles.csv`) in the reference's 26-column shape.

    Planted properties, each a known share: junk numerics in price, year and
    odometer; out-of-range prices, odometers and years that the cleaning
    filters drop; salvage titles; spam and dealer descriptions; missing
    manufacturers; exact duplicate rows. Prices
    follow a known linear signal plus noise, so the fitted models' R2 has a
    known ceiling.
    """
    rng = np.random.default_rng([seed, 1])
    n = VEHICLES_ROWS
    names = [m for m, _, _ in MANUFACTURERS]
    w = np.array([x for _, x, _ in MANUFACTURERS], dtype=float)
    premium = {m: p for m, _, p in MANUFACTURERS}
    mfr = rng.choice(len(names), n, p=w / w.sum())
    year = rng.integers(2000, 2021, n)                # 2000..2020
    old = rng.random(n) < 0.08                        # pre-2000: cleaning drops
    year[old] = rng.integers(1975, 2000, old.sum())
    odo = np.clip((2021 - year) * 11000 + rng.normal(0, 14000, n), 500, 240000).astype(int)
    types = list(TYPE_EFFECT)
    typ = rng.integers(0, len(types), n)
    colors = LIGHT_COLORS + DARK_COLORS
    color = rng.integers(0, len(colors), n)
    noise = rng.normal(0, 2500, n)
    signal = np.array([4000 + premium[names[m]] + 1100 * (y - 2000) - 0.045 * o + TYPE_EFFECT[types[t]]
                       for m, y, o, t in zip(mfr, year, odo, typ)])
    price = np.maximum(signal + noise, 600).round().astype(int)

    cond = rng.choice(len(CONDITIONS), n, p=[.34, .25, .12, .12, .07, .05, .05])
    fuel = rng.choice(len(FUELS), n, p=[.8, .08, .05, .03, .04])
    title = rng.choice(len(TITLES), n, p=[.9, .04, .03, .02, .01])
    salvage = rng.random(n) < 0.045                   # planted salvage titles
    trans = rng.choice(len(TRANSMISSIONS), n, p=[.8, .15, .05])
    state = rng.integers(0, len(STATES), n)
    region = rng.integers(0, len(REGIONS), n)

    # planted dirt (shares recorded in the ground truth)
    junk_price = rng.random(n) < 0.02
    range_price = (rng.random(n) < 0.04) & ~junk_price
    junk_year = rng.random(n) < 0.01
    future_year = (rng.random(n) < 0.01) & ~junk_year
    junk_odo = rng.random(n) < 0.01
    range_odo = (rng.random(n) < 0.02) & ~junk_odo
    no_mfr = rng.random(n) < 0.03
    spam = rng.random(n) < 0.05
    online = rng.random(n) < 0.08
    physical = (rng.random(n) < 0.3) & ~online
    year_in_desc = rng.random(n) < 0.2

    # descriptions: fragments from a seeded pool; sized so the file is ~100 MB
    pool = [" ".join(rng.choice(CAR_WORDS, rng.integers(8, 20))) + rng.choice([".", ",", "!"])
            for _ in range(3000)]
    frag_len = np.array([len(p) + 1 for p in pool])
    per_row_other = 330                               # measured mean of the other 25 fields
    target_desc = VEHICLES_TARGET_BYTES / n - per_row_other
    n_frag = np.maximum(1, rng.poisson(target_desc / frag_len.mean(), n))
    frag_idx = rng.integers(0, len(pool), n_frag.sum())
    spam_phrases = ["cash for cars today", "we are buying any vehicle", "please provide photos"]
    online_kw = ["buy online with carvana", "delivered by vroom", "shift makes it easy"]
    physical_kw = ["easy finance available", "call us today", "schedule a test drive",
                   "visit our lot", "guaranteed approval"]

    rows = []
    pos = 0
    for i in range(n):
        k = n_frag[i]
        desc = " ".join(pool[j] for j in frag_idx[pos:pos + k])
        pos += k
        if spam[i]:
            desc = spam_phrases[i % 3] + " " + desc
        if online[i]:
            desc += " " + online_kw[i % 3]
        elif physical[i]:
            desc += " " + physical_kw[i % 5]
        if year_in_desc[i]:
            desc = f"{1970 + (i * 7919) % 52} model " + desc
        m = names[mfr[i]]
        p = str(price[i])
        if junk_price[i]:
            p = ["N/A", "call", "see description"][i % 3]
        elif range_price[i]:
            p = str([0, 1, 150, 123456789][i % 4])
        y = str(year[i])
        if junk_year[i]:
            y = "unknown"
        elif future_year[i]:
            y = str(2030 + i % 5)
        o = str(odo[i])
        if junk_odo[i]:
            o = "many"
        elif range_odo[i]:
            o = str([0, 50, 450000][i % 3])
        vid = 7_300_000_000 + i
        reg = REGIONS[region[i]]
        rows.append([
            str(vid), f"https://{reg}.craigslist.org/cto/d/{vid}.html", reg,
            f"https://{reg}.craigslist.org", p, y, "" if no_mfr[i] else m,
            MODELS[(i * 31) % len(MODELS)], CONDITIONS[cond[i]],
            f"{4 + 2 * (i % 3)} cylinders", FUELS[fuel[i]], o,
            "salvage" if salvage[i] else TITLES[title[i]], TRANSMISSIONS[trans[i]],
            f"VIN{vid:x}".upper(), ["fwd", "rwd", "4wd"][i % 3],
            ["compact", "mid-size", "full-size"][i % 3], types[typ[i]],
            colors[color[i]], f"https://images.craigslist.org/{vid}.jpg", desc,
            "", STATES[state[i]], f"{30 + (i % 170) / 10:.4f}",
            f"{-120 + (i % 400) / 10:.4f}",
            f"2021-{4 + i % 2:02d}-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}-0500"])

    # planted exact duplicate rows (whole-row copies)
    n_dup = n // 100
    for j in rng.choice(n, n_dup, replace=False):
        rows.append(list(rows[j]))
    order = rng.permutation(len(rows))
    rows = [rows[j] for j in order]

    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "vehicles.csv")
    with open(path, "w", newline="") as f:
        wr = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        wr.writerow(VEHICLE_COLUMNS)
        wr.writerows(rows)

    ci = {c: VEHICLE_COLUMNS.index(c) for c in VEHICLE_COLUMNS}
    mfr_counts = {}
    salvage_by_state = {}
    for r in rows:
        if r[ci["manufacturer"]]:
            mfr_counts[r[ci["manufacturer"]]] = mfr_counts.get(r[ci["manufacturer"]], 0) + 1
        if r[ci["title_status"]] == "salvage":
            salvage_by_state[r[ci["state"]]] = salvage_by_state.get(r[ci["state"]], 0) + 1

    # recommendation queries: (Made, color group, type group, price range).
    # Each range covers REC_MATCHES consecutive prices of one large group, so
    # every query does about the same work whatever the seed.
    def rec_key(r):
        made = _made_of(r[ci["manufacturer"]])
        if (made is None or not r[ci["price"]].isdigit() or not r[ci["year"]].isdigit()
                or not r[ci["odometer"]].isdigit() or int(r[ci["year"]]) == 2021):
            return None
        return (made, "light color" if r[ci["paint_color"]] in LIGHT_COLORS else "dark color",
                TYPE_GROUP_OF[r[ci["type"]]])
    groups = {}
    for r in rows:
        k = rec_key(r)
        if k is not None and int(r[ci["price"]]) >= 2000:
            groups.setdefault(k, []).append(int(r[ci["price"]]))
    big = sorted(k for k, ps in groups.items() if len(ps) >= 4 * REC_MATCHES)
    queries = []
    for j in rng.choice(len(big), RECOMMEND_QUERIES, replace=False):
        k = big[j]
        prices = sorted(groups[k])
        lo = int(rng.integers(0, len(prices) - REC_MATCHES))
        queries.append({"made": k[0], "color_group": k[1], "type_group": k[2],
                        "price_lo": prices[lo], "price_hi": prices[lo + REC_MATCHES - 1]})

    # R2 ceiling: share of price variance the planted signal explains, over
    # rows the featurize filters keep (clean numerics in range, 2000..2020)
    keep = (~junk_price & ~range_price & ~junk_year & ~future_year & ~junk_odo & ~range_odo
            & ~old & (price >= 2000) & (price <= 50000) & (odo > 100) & (odo <= 200000))
    resid = price[keep] - signal[keep]
    r2_ceiling = float(1 - resid.var() / price[keep].var())

    size = os.path.getsize(path)
    return {
        "files": {"vehicles.csv": size},
        "rows": len(rows),
        "bytes": size,
        "planted": {
            "junk_price": float(junk_price.mean()), "out_of_range_price": float(range_price.mean()),
            "junk_year": float(junk_year.mean()), "future_year": float(future_year.mean()),
            "pre_2000_year": float(old.mean()), "junk_odometer": float(junk_odo.mean()),
            "out_of_range_odometer": float(range_odo.mean()), "missing_manufacturer": float(no_mfr.mean()),
            "salvage_title": float(salvage.mean()), "spam_description": float(spam.mean()),
            "duplicate_rows": n_dup / len(rows)},
        "truth": {
            "manufacturer_counts": mfr_counts,
            "salvage_by_state": salvage_by_state,
            "recommend_queries": queries,
            "r2_ceiling": r2_ceiling},
    }


# --------------------------------------------------------------------------
# documents (intake)
# --------------------------------------------------------------------------

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]
N_SOURCES = 20
EVAL_SOURCE = "src15"


def _vocab(rng, n=5000):
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = rng.integers(2, 5)
        words.add("".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, len(vowels))]
                          for _ in range(k)))
    return sorted(words)


class DocMaker:
    """Word-soup documents that pass the intake quality and repetition rules
    unless a failure is planted on purpose."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng)

    def tokens(self, n=None):
        rng = self.rng
        n = int(rng.integers(25, 96)) if n is None else n
        toks = [self.vocab[j] for j in rng.integers(0, len(self.vocab), n)]
        n_stop = max(int(math.ceil(0.08 * n)), int(rng.binomial(n, 0.12)))
        for p in rng.choice(n, n_stop, replace=False):
            toks[p] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
        return toks

    def edit(self, toks, frac):
        toks = list(toks)
        k = max(1, int(round(frac * len(toks))))
        for p in self.rng.choice(len(toks), k, replace=False):
            if toks[p] not in STOPWORDS:
                toks[p] = self.vocab[self.rng.integers(0, len(self.vocab))]
        return toks


def passes_intake_rules(toks):
    """The intake quality and repetition rules, restated independently."""
    n = len(toks)
    if not (20 <= n <= 100):
        return False
    if sum(t in STOPWORDS for t in toks) / n < 0.05:
        return False
    top = max(toks.count(t) for t in set(toks))
    if round(top / n, 4) > 0.2:
        return False
    bg = [toks[i] + " " + toks[i + 1] for i in range(n - 1)]
    return round((len(bg) - len(set(bg))) / len(bg), 4) <= 0.3


CHAINS = [100, 80, 60]


def _corpus(rng, maker, n_docs):
    """Return (docs, truth). docs: list of [doc_id, text, lang, source];
    planted near-duplicate chains, exact duplicates, eval leaks and quality
    and repetition failures."""
    sources = [f"src{s}" for s in range(N_SOURCES)]
    train_sources = [s for s in sources if s != EVAL_SOURCE]
    src = lambda: sources[rng.integers(0, len(sources))]
    train_src = lambda: train_sources[rng.integers(0, len(train_sources))]
    items = []      # (kind, group, tokens, source)
    n_eval = n_docs // N_SOURCES
    evals = [maker.tokens() for _ in range(n_eval)]
    items += [("eval", -1, t, EVAL_SOURCE) for t in evals]

    # skewed near-duplicate clusters: a few long drifting chains (large,
    # high-diameter components) and many pairs and triples
    group = 0
    for size in CHAINS:
        toks = maker.tokens(80)
        for _ in range(size):
            items.append(("near", group, toks, train_src()))
            toks = maker.edit(toks, 0.03)
        group += 1
    n_small = int(0.08 * n_docs)
    while n_small > 0:
        base = maker.tokens()
        k = int(rng.integers(2, 4))
        for _ in range(k):
            items.append(("near", group, maker.edit(base, 0.05), train_src()))
        group += 1
        n_small -= k

    # exact duplicates: groups of 2-4 identical texts
    n_exact = int(0.06 * n_docs)
    while n_exact > 0:
        toks = maker.tokens()
        while not passes_intake_rules(toks):
            toks = maker.tokens()
        k = int(rng.integers(2, 5))
        for _ in range(k):
            items.append(("exact", group, toks, train_src()))
        group += 1
        n_exact -= k

    # leaks: a 3-token span copied from an eval document
    n_leak = int(0.02 * n_docs)
    for _ in range(n_leak):
        toks = maker.tokens()
        while True:
            e = evals[rng.integers(0, len(evals))]
            i = int(rng.integers(0, len(e) - 3))
            j = int(rng.integers(0, len(toks) - 3))
            cand = toks[:j] + e[i:i + 3] + toks[j + 3:]
            if passes_intake_rules(cand):
                break
            toks = maker.tokens()
        items.append(("leak", -1, cand, train_src()))

    # planted rule failures
    for _ in range(int(0.02 * n_docs)):
        items.append(("short", -1, maker.tokens(int(rng.integers(5, 16))), train_src()))
    for _ in range(int(0.01 * n_docs)):
        toks = [maker.vocab[j] for j in rng.integers(0, len(maker.vocab), int(rng.integers(30, 80)))]
        items.append(("nostop", -1, toks, train_src()))
    for _ in range(int(0.02 * n_docs)):
        toks = maker.tokens()
        w = toks[0]
        for p in rng.choice(len(toks), int(0.35 * len(toks)), replace=False):
            toks[p] = w
        items.append(("repetitive", -1, toks, train_src()))

    while len(items) < n_docs:
        items.append(("plain", -1, maker.tokens(), src()))

    ids = rng.permutation(len(items)).astype(np.int64) * 3 + 1   # sparse, shuffled ids
    langs = ["en", "en", "en", "de", "fr", "es"]
    docs = [[int(ids[k]), " ".join(t), langs[k % len(langs)], s] for k, (_, _, t, s) in enumerate(items)]

    # expected intake verdicts for the planted duplicates and leaks
    expect_dup = []
    by_group = {}
    for k, (kind, g, _, _) in enumerate(items):
        if kind == "exact":
            by_group.setdefault(g, []).append(int(ids[k]))
    for members in by_group.values():
        expect_dup += sorted(members)[1:]
    expect_leak = [int(ids[k]) for k, (kind, _, _, _) in enumerate(items) if kind == "leak"]
    kinds = {}
    for kind, _, _, _ in items:
        kinds[kind] = kinds.get(kind, 0) + 1
    planted = {k: v / len(items) for k, v in sorted(kinds.items())}
    planted["chain_sizes"] = CHAINS
    return docs, {"expect_duplicate": sorted(expect_dup), "expect_contaminated": sorted(expect_leak),
                  "candidates": sum(d[3] != EVAL_SOURCE for d in docs), "planted": planted}


def _docs_table(docs):
    return pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([d[3] for d in docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())})


INTAKE_DOCS = 2_500


def gen_intake(seed, out):
    """`documents.parquet`: 2500 documents, half the sf0.1 documents table."""
    rng = np.random.default_rng([seed, 2])
    docs, truth = _corpus(rng, DocMaker(rng), INTAKE_DOCS)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(_docs_table(docs), path)
    return {"files": {"documents.parquet": os.path.getsize(path)}, "rows": len(docs),
            "bytes": os.path.getsize(path), "planted": truth.pop("planted"), "truth": truth}


GENERATORS = {"vehicles": gen_vehicles, "intake": gen_intake}


def content_digest(out, files):
    h = hashlib.sha256()
    for name in sorted(files):
        with open(os.path.join(out, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def ensure(workload, seed, root):
    """Generate (once per seed and generator version) and return the data
    directory and the ground-truth record."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, workload, f"seed{seed}-{version}")
    meta = os.path.join(out, "truth.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, json.load(f)
    rec = GENERATORS[workload](seed, out)
    rec["seed"] = seed
    rec["content_sha256"] = content_digest(out, rec["files"])
    tmp = meta + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, meta)
    return out, rec
