"""Seeded input generators for the housebench workloads.

Every generator takes the seed as an argument and is deterministic: the
same seed writes byte-identical files. Nothing here touches Spark; the
JVM side only reads what these functions write.

- ``listing_archive``: a Trulia-shaped page archive of 11 daily scrapes
  whose cleaned rows total 46,582 (the reference's analysis corpus),
  keeping the raw-listing quirks the cleaner must handle.
- ``zipf_corpus``: a ``documents.parquet`` corpus with zipf word
  frequencies and a stated near-duplicate share.
- ``star_schema``: the TPC-H-shaped star (plus events, documents and
  embeddings) that the registry queries read, at a chosen scale.
"""
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# listing archive

DATES = ["2020-01-29", "2020-01-30", "2020-01-31", "2020-02-03",
         "2020-02-04", "2020-02-05", "2020-02-06", "2020-02-07",
         "2020-02-08", "2020-02-09", "2020-02-10"]
TOTAL_ROWS = 46582  # cleaned rows across the 11 days (BASELINE.md)

# Ordered amenity keywords and the flag-and-consume rule of
# graft.operators.Cleaning.amenityFlags: flag containment in the
# lower-cased remaining text, then delete the keyword text.
AMENITIES = ["cats", "small_dogs", "large_dogs", "game_room", "ev_charging",
             "granite", "gourmet", "open_living", "walk_in", "stainless",
             "balcony", "fireplace", "pool", "elevator", "pet_park",
             "fitness_center", "club_house", "dishwasher", "disposal",
             "hot_tub", "spa"]
# Listing feature phrases; each names at most a few keywords and no
# accidental substrings of others.
FEATURES = ["Cats allowed", "Small dogs allowed", "Large dogs allowed",
            "Game room", "EV charging", "Granite counters", "Gourmet kitchen",
            "Open living plan", "Walk in closets", "Stainless appliances",
            "Balcony", "Fireplace", "Pool", "Elevator", "Pet park",
            "Fitness center", "Club house", "Dishwasher", "Disposal",
            "Hot tub", "Spa"]
PREMIUM = [35, 20, 45, 40, 30, 60, 55, 50, 25, 45,
           40, 35, 120, 30, 20, 65, 30, 25, 10, 40, 50]
FILLER = ["Apartment", "Built in 1968", "Deposit: $300", "Laundry on site",
          "Built in 1999", "Gated entry"]

AUSTIN_ZIPS = ["78701", "78702", "78703", "78704", "78705", "78717",
               "78721", "78723", "78726", "78727", "78729", "78731",
               "78741", "78744", "78745", "78746", "78748", "78749",
               "78750", "78751", "78752", "78753", "78754", "78757",
               "78758", "78759"]
WOBURN_ZIPS = ["01801", "01803"]  # leading zero: the int cast drops it
TARGET_R2 = 0.73  # BASELINE.md: ridge 5-fold CV R² 0.7292


def amenity_flags(details):
    rest = details.lower()
    flags = []
    for kw in AMENITIES:
        text = kw.replace("_", " ")
        flags.append(1 if text in rest else 0)
        rest = rest.replace(text, "")
    return flags


class _Uniforms:
    """Uniform draws served from pre-generated numpy blocks: per-call
    numpy scalars are slow, and the block order keeps runs seeded."""

    def __init__(self, rng, block=1 << 19):
        self.rng, self.block, self.buf, self.i = rng, block, [], 0

    def random(self):
        if self.i == len(self.buf):
            self.buf, self.i = self.rng.random(self.block).tolist(), 0
        v = self.buf[self.i]
        self.i += 1
        return v

    def integers(self, lo, hi=None):
        if hi is None:
            lo, hi = 0, lo
        return lo + int(self.random() * (hi - lo))

    def sample(self, n, k):
        """k distinct values of range(n), partial Fisher-Yates."""
        pool = list(range(n))
        for j in range(k):
            r = self.integers(j, n)
            pool[j], pool[r] = pool[r], pool[j]
        return pool[:k]


def _page_html(name, address, city, state, zipcode, details, rows):
    lines = ['<html><body>',
             f'<span data-testid="home-details-summary-headline">{name}</span>',
             f'<span data-testid="home-details-summary-city-state">{address}</span>',
             f'<span data-testid="home-details-summary-city-state">'
             f'{city}, {state} {zipcode}</span>',
             '<div data-testid="home-description-text-description-text">'
             'Please contact us for leasing details.</div>']
    for d in details:
        lines.append(f'<li class="FeatureList__FeatureListItem-iipbki-0">{d}</li>')
    lines.append('<table data-testid="floor-plan-group">')
    for unit, sqft, bed, bath, price in rows:
        lines += ['<tr>',
                  f'  <div color="highlight">{unit}</div>',
                  f'  <td class="FloorPlanTable__FloorPlanFloorSpaceCell-sc-5">{sqft}</td>',
                  f'  <td class="FloorPlanTable__FloorPlanFeaturesCell-sc-4">{bed}</td>',
                  f'  <td class="FloorPlanTable__FloorPlanFeaturesCell-sc-4">{bath}</td>',
                  '  <td class="FloorPlanTable__FloorPlanSMCell-sc-8">Contact</td>',
                  f'  <td class="FloorPlanTable__FloorPlanSMCell-sc-8">{price}</td>',
                  '</tr>']
    lines += ['</table>', '</body></html>', '']
    return "\n".join(lines)


def _money(v):
    return f"${v:,}"


def listing_archive(out_dir, seed, write=True):
    """Write ``out_dir/<date>/pNNNNN.html`` for the 11 days plus
    ``out_dir/manifest.json`` with the counts a correct pipeline must
    reproduce. Returns the manifest, whose ``digest`` is a sha256 of
    every page. ``write=False`` builds and hashes the pages without
    writing them."""
    rng = np.random.default_rng([seed, 1])
    u = _Uniforms(rng)
    per_day = [TOTAL_ROWS // len(DATES) + (1 if i < TOTAL_ROWS % len(DATES) else 0)
               for i in range(len(DATES))]
    # first pass: draw every row and its signal; the noise scale is set
    # from the signal's variance so the ridge fit lands on TARGET_R2
    days = []
    signal = []
    quirks = {"sqft_range": 0, "sqft_empty": 0, "price_range": 0,
              "price_contact": 0, "bed_studio": 0, "bed_empty": 0,
              "zip_leading_zero": 0, "broken_pages": 0}
    page_no = 0
    for date, target in zip(DATES, per_day):
        pages = []
        kept = 0
        while kept < target:
            page_no += 1
            if u.random() < 0.02:
                pages.append(("broken", page_no))
                quirks["broken_pages"] += 1
                continue
            woburn = u.random() < 0.08
            city, state = ("Woburn", "MA") if woburn else ("Austin", "TX")
            zips = WOBURN_ZIPS if woburn else AUSTIN_ZIPS
            zip_i = u.integers(len(zips))
            zipcode = zips[zip_i]
            nfeat = u.integers(1, 6)
            feats = sorted(u.sample(len(FEATURES), nfeat))
            filler = FILLER[u.integers(len(FILLER))]
            details = [filler] + [FEATURES[f] for f in feats]
            flags = amenity_flags(" ,".join(details))
            zip_effect = (zip_i * 23) % 180 + (250 if woburn else 0)
            base = sum(p for p, f in zip(PREMIUM, flags) if f) + zip_effect
            nrows = min(u.integers(1, 13), target - kept)
            rows = []
            for r in range(nrows):
                bed_n = u.integers(0, 4)
                bath_n = [1.0, 1.0, 1.5, 2.0, 2.5][u.integers(5)]
                sqft_v = 420 + bed_n * 260 + u.integers(0, 380)
                kind = u.random()
                price_kind = u.random()
                keep = not 0.03 <= price_kind < 0.06
                if kind < 0.02:
                    sqft_s, sqft_clean = "", None
                    quirks["sqft_empty"] += 1
                    keep = False
                elif kind < 0.07:
                    lo = sqft_v - u.integers(20, 120)
                    hi = sqft_v + u.integers(20, 120)
                    sqft_s = f"{lo:,}-{hi:,} sqft"
                    sqft_clean = int((lo + hi) / 2.0)
                    quirks["sqft_range"] += 1
                else:
                    sqft_s, sqft_clean = f"{sqft_v:,} sqft", sqft_v
                if bed_n == 0:
                    if u.random() < 0.15:
                        bed_s = ""
                        quirks["bed_empty"] += 1
                    else:
                        bed_s = "Studio"
                        quirks["bed_studio"] += 1
                else:
                    bed_s = f"{bed_n}bd"
                bath_s = f"{bath_n:g}ba"
                rows.append([f"Unit {100 + r}", sqft_s, bed_s, bath_s, price_kind,
                             sqft_clean, bed_n, bath_n, base, keep])
                if keep:
                    kept += 1
            pages.append(("page", page_no, city, state, zipcode, details, rows))
            quirks["zip_leading_zero"] += woburn * sum(1 for x in rows if x[9])
        days.append(pages)
        for p in pages:
            if p[0] == "page":
                for x in p[6]:
                    if x[9] and x[4] >= 0.03:
                        signal.append(300 + 1.1 * x[5] + 120 * x[6] + 80 * x[7] + x[8])
    sig_var = float(np.var(np.array(signal)))
    sigma = math.sqrt(sig_var * (1.0 / TARGET_R2 - 1.0))
    noise = iter(rng.normal(0.0, sigma, sum(len(p[6]) for d in days for p in d
                                            if p[0] == "page")).tolist())

    # second pass: draw prices and write the pages
    digest = hashlib.sha256()
    manifest = {"seed": seed, "dates": DATES, "days": [], "target_r2": TARGET_R2,
                "noise_sigma": sigma}
    model_rows = 0
    for date, pages in zip(DATES, days):
        if write:
            os.makedirs(os.path.join(out_dir, date), exist_ok=True)
        raw_rows = kept_rows = n_pages = broken = 0
        for p in pages:
            n_pages += 1
            if p[0] == "broken":
                broken += 1
                html = f"<html><body><h1>Listing {p[1]} unavailable</h1></body></html>\n"
            else:
                _, no, city, state, zipcode, details, rows = p
                out = []
                for x in rows:
                    sqft_clean, bed_n, bath_n, base, keep = x[5:10]
                    mean = 300 + 1.1 * (sqft_clean or 0) + 120 * bed_n + 80 * bath_n + base
                    price = int(max(350, round(mean + next(noise))))
                    kind = x[4]
                    if kind < 0.03:
                        price_s = "Contact"
                        quirks["price_contact"] += 1
                    elif kind < 0.06:
                        price_s = f"{_money(price)}-{_money(price + 150)}"
                        quirks["price_range"] += 1
                    elif kind < 0.20:
                        price_s = _money(price) + "+"
                    else:
                        price_s = _money(price)
                    if keep and price_s != "Contact":
                        model_rows += 1
                    out.append((x[0], x[1], x[2], x[3], price_s))
                    raw_rows += 1
                    kept_rows += keep
                html = _page_html(f"Complex {no} Apartments", f"{no} Main St",
                                  city, state, zipcode, details, out)
            name = f"{date}/p{p[1]:06d}.html"
            digest.update(name.encode())
            digest.update(html.encode())
            if write:
                with open(os.path.join(out_dir, name), "w") as f:
                    f.write(html)
        manifest["days"].append({"date": date, "pages": n_pages, "broken_pages": broken,
                                 "raw_rows": raw_rows, "kept_rows": kept_rows})
    manifest["raw_rows"] = sum(d["raw_rows"] for d in manifest["days"])
    manifest["kept_rows"] = sum(d["kept_rows"] for d in manifest["days"])
    manifest["pages"] = sum(d["pages"] for d in manifest["days"])
    manifest["model_rows"] = model_rows
    manifest["quirks"] = quirks
    manifest["digest"] = digest.hexdigest()
    if write:
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


# ---------------------------------------------------------------------------
# zipf corpus

SYLLABLES = ["ka", "lo", "mi", "ten", "sor", "ba", "vi", "dun", "pre", "ul",
             "gra", "ne", "to", "rin", "ex", "fa", "qua", "zo", "hel", "ip"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _vocab(n):
    words = []
    for i in range(n):
        w, j = "", i
        while True:
            w += SYLLABLES[j % len(SYLLABLES)]
            j //= len(SYLLABLES)
            if j == 0:
                break
        words.append(w)
    return words


def _doc_table(doc_ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def zipf_corpus(out_dir, seed, n_docs, vocab=4000, zipf_s=1.1,
                near_dup_share=0.10, exact_dup_share=0.01):
    """Write ``out_dir/documents.parquet``: ``n_docs`` documents of 10 to
    100 words drawn from a zipf(``zipf_s``) vocabulary. A
    ``near_dup_share`` of documents copy an earlier document with about
    5% of its words replaced, and ``exact_dup_share`` copy one verbatim.
    Returns the corpus facts (sizes and the shares actually drawn)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_vocab(vocab))
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    lengths = rng.integers(10, 101, n_docs)
    tokens = rng.choice(vocab, int(lengths.sum()), p=p)
    kinds = rng.random(n_docs)
    texts = []
    near = exact = 0
    off = 0
    for i in range(n_docs):
        seq = tokens[off:off + lengths[i]]
        off += lengths[i]
        if i > 0 and kinds[i] < exact_dup_share:
            texts.append(texts[int(rng.integers(i))])
            exact += 1
            continue
        if i > 0 and kinds[i] < exact_dup_share + near_dup_share:
            src = texts[int(rng.integers(i))].split(" ")
            edits = max(1, len(src) // 20)
            for pos in rng.integers(0, len(src), edits):
                src[pos] = words[int(rng.integers(vocab))]
            texts.append(" ".join(src))
            near += 1
            continue
        texts.append(" ".join(words[seq]))
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]
    sources = [f"src{i % 20}" for i in range(n_docs)]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_doc_table(list(range(n_docs)), texts, langs, sources),
                   os.path.join(out_dir, "documents.parquet"))
    words_total = int(sum(len(t.split(" ")) for t in texts))
    return {"docs": n_docs, "words": words_total, "vocab": vocab, "zipf_s": zipf_s,
            "near_dup_share": near / n_docs, "exact_dup_share": exact / n_docs}


# ---------------------------------------------------------------------------
# star schema

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + off, pa.timestamp("us"))


def _day_ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days, n) * 86_400_000_000
    return pa.array(base + off, pa.timestamp("us"))


def _money_arr(rng, n, lo, hi):
    return np.floor(rng.uniform(lo, hi, n) * 100) / 100


def star_schema(out_dir, seed, sf):
    """Write the ten registry tables at scale ``sf`` (sf 0.01 gives
    60,000 lineitem rows). Returns the row count of each table."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_users, n_events = int(15000 * sf), int(1000000 * sf)
    n_docs, n_vec = int(50000 * sf), int(50000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money_arr(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money_arr(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money_arr(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    rf = rng.integers(0, 3, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money_arr(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rf],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", 2498)})
    ts = np.sort(_ts(rng, n_events, "2024-01-01", 30).to_numpy())
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]})
    texts = []
    for i, n in enumerate(rng.integers(10, 101, n_docs)):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] if rng.random() < 0.2
                         else " ".join(DOC_WORDS[j] for j in rng.integers(0, 30, n)) + " dup")
        else:
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, 30, n)))
    t["documents"] = _doc_table(list(range(n_docs)), texts,
                                [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
                                [f"src{i % 20}" for i in range(n_docs)])
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
