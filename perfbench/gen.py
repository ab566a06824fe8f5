"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes its inputs
there, and returns (and writes as ``truth.json``) the ground truth it
planted.  The same seed always produces byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <outdir> [--size tiny|full]
"""

import datetime
import hashlib
import json
import os
import random
import sys

# --------------------------------------------------------------------------
# shared helpers


def row_hash(values):
    """Order-independent row digest: first 8 bytes of md5 over the cells
    joined by U+001F, a null cell written as U+0000.  The JVM side
    (graftbench.Check.rowHash) computes the same value."""
    s = "\x1f".join("\x00" if v is None else v for v in values)
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def set_hash(rows):
    """Sum of row digests mod 2^64: equal for equal multisets of rows."""
    return sum(row_hash(r) for r in rows) % (1 << 64)


def id_hash(ids):
    return set_hash([[str(i)] for i in ids])


def _write(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _dump_truth(outdir, truth):
    with open(os.path.join(outdir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)


# --------------------------------------------------------------------------
# loom_etl: two CSV trees (initial load, next-day reload) of 71-column rows

# article names with characters each encoding arm must round-trip
UTF8_ARTICLES = ["Algodão Cru", "Brim Açúcar", "Sarja Índigo", "Lona Pesada",
                 "Tricoline", "Denim Ébano"]
CP1252_ARTICLES = ["Cetim – Luxo", "Oxford “Premium”",
                   "Gabardine • Fina", "Linho Ação"]
# the latin-1 arm is taken only for files holding a byte cp1252 leaves
# undefined (0x81 0x8D 0x8F 0x90 0x9D); they decode to C1 controls
LATIN1_ARTICLES = ["Veludo\u008d Cotelê", "Flanela\u0081 Xadrez",
                   "Crepe\u0090 Seda"]

LOOM_SIZES = {
    # looms, months, days per month; three shifts a day
    "full": dict(looms=8, months=3, days=14),
    "tiny": dict(looms=4, months=2, days=6),
}


def _num(rng, lo, hi, dec):
    v = rng.uniform(lo, hi)
    return f"{v:.{dec}f}" if dec else str(int(v))


def _loom_row(rng, key, articles, powered_off=False):
    shift, tear = key
    running = "0" if powered_off else _num(rng, 200, 480, 1)
    stopped = _num(rng, 400, 480, 1) if powered_off else _num(rng, 0, 200, 1)
    row = [shift, tear, rng.choice(articles), f"FIO {rng.randint(10, 40)}",
           f"GEN-{rng.randint(100, 999)}",
           _num(rng, 300, 900, 0), _num(rng, 0, 100, 2), running, stopped]
    while len(row) < 71:
        # sparse stop counters: about a third of the cells are empty
        row.append("" if rng.random() < 0.33 else _num(rng, 0, 60, rng.choice([0, 1])))
    return row


def _csv_line(cells):
    return ",".join(cells) + "\r\n"


def _expected_cells(cells, n=71):
    """What the import keeps of one CSV line: trim spaces, empty -> null,
    missing trailing cells -> null."""
    out = []
    for i in range(n):
        v = cells[i] if i < len(cells) else ""
        v = v.strip(" ")
        out.append(v if v != "" else None)
    return out


def _powered_off(cells):
    def f(v):
        if v is None or v.strip() == "":
            return 0.0
        try:
            return float(v)
        except ValueError:
            return None
    run, stop = f(cells[7]), f(cells[8])
    return (cells[0] is not None and cells[0].endswith(".C") and run == 0.0
            and stop is not None and stop >= 400.0)


def _loom_tree(rng, root, keys_by_month, prev_state, plant):
    """Write one CSV tree; return the merged rows the import must produce
    (key -> cells) given the sink state `prev_state` (for the gate)."""
    files = {}            # relative path -> (encoding, [cell lists])
    counters = dict(files=0, rows=0, short_dropped=0, short_kept=0,
                    reexport_rows=0, powered_off=0, cp1252_files=0,
                    latin1_files=0, decoys=0)
    for month, keys in sorted(keys_by_month.items()):
        days = sorted({k[0][:10] for k in keys})
        # the seed picks which days carry a kept short row and a
        # re-export, not how many: every seed gives the same input size
        short_days = set(rng.sample(range(len(days)), len(days) // 2))
        reexport_days = set(rng.sample(range(len(days)),
                                       round(len(days) * plant["reexport_share"])))
        for di, day in enumerate(days):
            enc = "utf-8"
            if di % 9 == 4:
                enc = "cp1252"
            elif di % 11 == 7:
                enc = "latin-1"
            arts = {"utf-8": UTF8_ARTICLES, "cp1252": CP1252_ARTICLES,
                    "latin-1": LATIN1_ARTICLES}[enc]
            day_keys = [k for k in keys if k[0].startswith(day)]
            lines = []
            for k in day_keys:
                off = k[0].endswith(".C") and rng.random() < plant["off_share"]
                lines.append(_loom_row(rng, k, arts, powered_off=off))
            # a short row that keeps its key (trailing cells missing) ...
            if day_keys and di in short_days:
                i = rng.randrange(len(lines))
                lines[i] = lines[i][:rng.randint(3, 20)]
                counters["short_kept"] += 1
            # ... and rows the short-row skip drops
            lines.append([day + ".A", "", ""] + [""] * 5)
            lines.append(["", "", ""])
            counters["short_dropped"] += 2
            # padded cells the normalizer trims
            if lines and len(lines[0]) > 5:
                lines[0][2] = "  " + lines[0][2] + " "
            name = f"{month}/daily/{day}-a.{'CSV' if di % 5 == 3 else 'csv'}"
            files[name] = (enc, lines)
            # overlapping re-export of part of the day: later path wins
            if di in reexport_days:
                re_lines = []
                for k in day_keys[: max(1, len(day_keys) // 3)]:
                    re_lines.append(_loom_row(rng, k, UTF8_ARTICLES))
                files[f"{month}/daily/{day}-b.csv"] = ("utf-8", re_lines)
                counters["reexport_rows"] += len(re_lines)
        # non-CSV decoys the reader must skip
        _write(os.path.join(root, month, "daily", "notes.txt"),
               b"exported by collector; not data\n1,2,3\n")
        _write(os.path.join(root, month, "daily", f"{month}.csv.bak"),
               _csv_line(["9999-99-99.A", "T999", "decoy"]).encode())
        counters["decoys"] += 2
    first = True
    for name, (enc, lines) in sorted(files.items()):
        text = "".join(_csv_line(c) for c in lines)
        data = text.encode(enc)
        if enc == "utf-8" and first:
            data = b"\xef\xbb\xbf" + data   # file-level BOM
            first = False
        _write(os.path.join(root, name), data)
        counters["files"] += 1
        counters["cp1252_files"] += enc == "cp1252"
        counters["latin1_files"] += enc == "latin-1"
        counters["rows"] += len(lines)
    # expected import output: normalize -> short-row skip -> gate -> LWW
    merged = {}
    winner_path = {}
    for name, (enc, lines) in sorted(files.items()):
        for cells in lines:
            e = _expected_cells(cells)
            if not all(e[i] for i in range(3)):
                continue
            key = (e[0], e[1])
            if _powered_off(e):
                counters["powered_off"] += 1
                if key in prev_state:
                    continue
            if key not in winner_path or name > winner_path[key]:
                winner_path[key] = name
                merged[key] = e
    return merged, counters, sum(len(v[1]) for v in files.values())


def gen_loom(seed, outdir, size="full"):
    rng = random.Random(f"loom:{seed}")
    sz = LOOM_SIZES[size]
    looms = [f"T{i:03d}" for i in range(1, sz["looms"] + 1)]
    months = [f"2024-{m:02d}" for m in range(1, sz["months"] + 1)]
    plant = dict(off_share=0.3, reexport_share=0.35)

    def keys_for(month, days):
        return [(f"{month}-{d:02d}.{s}", t) for d in days for s in "ABC" for t in looms]

    # phase 1: every month, days 1..N
    p1_keys = {m: keys_for(m, range(1, sz["days"] + 1)) for m in months}
    # phase 2 (next day): the last two months re-exported, one new day
    p2_keys = {m: keys_for(m, range(1, sz["days"] + 1)) for m in months[-2:]}
    p2_keys[months[-1]] += keys_for(months[-1], [sz["days"] + 1])
    phases = []
    state = {}
    for i, keys in enumerate([p1_keys, p2_keys], start=1):
        root = os.path.join(outdir, f"phase{i}")
        merged, counters, n_lines = _loom_tree(rng, root, keys, state, plant)
        state = dict(state)
        state.update(merged)
        by_month = {}
        for k in merged:
            by_month[k[0][:7]] = by_month.get(k[0][:7], 0) + 1
        phases.append(dict(
            root=f"phase{i}", input_rows=n_lines, merged_rows=len(merged),
            export_rows_by_month=by_month, months=sorted(by_month),
            sink_rows=len(state), sink_hash=str(set_hash(state.values())),
            planted=counters))
    truth = dict(workload="loom_etl", seed=seed, size=size, phases=phases,
                 input_rows=sum(p["input_rows"] for p in phases))
    _dump_truth(outdir, truth)
    return truth


# --------------------------------------------------------------------------
# corpus_build and stream_intake: documents with planted duplicates

STOP = {"en": ["the", "a", "of", "and", "to", "in", "is", "that"],
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
        "es": ["el", "la", "de", "que", "y", "los", "una"],
        "fr": ["le", "la", "les", "des", "et", "est", "une"]}
_ALL_STOP = {w for ws in STOP.values() for w in ws}
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "pe", "si", "du", "ga", "ho",
        "ji", "ku", "ma", "no", "pi", "ro", "su", "te", "vu", "wa", "xo", "ze",
        "bri", "cla", "dro", "fle", "gru", "pla", "str", "tho"]


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if len(w) >= 4 and w not in _ALL_STOP:
            words.add(w)
    return sorted(words)


def _doc_tokens(rng, vocab, lang, n):
    """n tokens, a stopword of `lang` every few words, never two stopwords
    in a row, so every 3-gram holds a content word."""
    out = []
    stops = STOP[lang]
    for i in range(n):
        if i % 4 == 1:
            out.append(rng.choice(stops))
        else:
            out.append(rng.choice(vocab))
    return out


def _noisy_copy(rng, text):
    """An exact duplicate after normalization: case, spacing and control
    characters change, the normalized text does not."""
    toks = text.split(" ")
    toks = [t.upper() if rng.random() < 0.3 else t for t in toks]
    sep = rng.choice(["  ", " \t", " \x01 ", "   "])
    return "  " + sep.join(toks) + " "


def _normalize(text):
    """CorpusPipeline.normalize: lower(trim), control chars -> space,
    runs of spaces -> one space."""
    t = text.strip(" ").lower()
    t = "".join(" " if (ord(c) < 32 or ord(c) == 127) else c for c in t)
    while "  " in t:
        t = t.replace("  ", " ")
    return t


def _tokens(norm):
    return [w for w in norm.strip(" ").split() if w]


def _passes_gate(norm, min_tokens=5):
    w = _tokens(norm)
    return len(w) >= min_tokens and any(x in _ALL_STOP for x in w)


def _shingles(norm, n=3):
    w = _tokens(norm)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


CORPUS_SIZES = {
    "full": dict(unique=2100, exact_groups=180, exact_copies=3, near_groups=150,
                 near_variants=3, gated=180, vocab=20000),
    "tiny": dict(unique=40, exact_groups=5, exact_copies=2, near_groups=4,
                 near_variants=2, gated=6, vocab=3000),
}


def _plant_docs(rng, sz, start_id=0):
    """Documents with planted exact and near duplicate groups.
    Returns [(doc_id, text, lang)] in shuffled id order plus the group
    structure."""
    vocab = _vocab(rng, sz["vocab"])
    langs = ["en", "en", "en", "de", "es", "fr"]
    texts = []           # (text, group tag)
    for _ in range(sz["unique"]):
        texts.append((" ".join(_doc_tokens(rng, vocab, rng.choice(langs),
                                           rng.randint(30, 60))), ("u",)))
    for g in range(sz["exact_groups"]):
        base = " ".join(_doc_tokens(rng, vocab, rng.choice(langs), rng.randint(30, 60)))
        texts.append((base, ("x", g)))
        for _ in range(sz["exact_copies"] - 1):
            texts.append((_noisy_copy(rng, base), ("x", g)))
    for g in range(sz["near_groups"]):
        toks = _doc_tokens(rng, vocab, rng.choice(langs), rng.randint(40, 60))
        texts.append((" ".join(toks), ("n", g)))
        for _ in range(sz["near_variants"]):
            v = list(toks)
            for _ in range(max(2, len(v) // 12)):
                i = rng.randrange(len(v))
                if v[i] not in _ALL_STOP:
                    v[i] = rng.choice(vocab)
            texts.append((" ".join(v), ("n", g)))
    for i in range(sz["gated"]):
        if i % 2:
            texts.append((" ".join(rng.choice(vocab) for _ in range(3)) + " the", ("g",)))
        else:   # no stopword of any language: language 'und'
            texts.append((" ".join(rng.choice(vocab) for _ in range(20)), ("g",)))
    rng.shuffle(texts)
    docs = []
    for i, (t, tag) in enumerate(texts):
        lang = "en"
        for l, ws in STOP.items():
            if any(w in ws for w in t.lower().split()):
                lang = l
                break
        docs.append((start_id + i, t, lang, tag))
    return docs


def expected_corpus(docs, threshold=0.03):
    """Reference semantics of CorpusPipeline.run with n=3 shingle Jaccard
    pairs and min-label clusters: gate -> keep the min id per normalized
    text -> pairs with round(J, 4) >= threshold -> connected components ->
    keep each component's min id."""
    norm = {d: _normalize(t) for d, t, _ in docs}
    gated = sorted(d for d in norm if _passes_gate(norm[d]))
    first = {}
    for d in gated:
        first.setdefault(norm[d], d)
    keep = sorted(first.values())
    sh = {d: _shingles(norm[d]) for d in keep}
    index = {}
    for d in keep:
        for s in sh[d]:
            index.setdefault(s, []).append(d)
    inter = {}
    for ds in index.values():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                p = (ds[i], ds[j])
                inter[p] = inter.get(p, 0) + 1
    parent = {d: d for d in keep}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    n_pairs = 0
    for (a, b), k in inter.items():
        if round(k / (len(sh[a]) + len(sh[b]) - k), 4) >= threshold:
            n_pairs += 1
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    final = sorted(d for d in keep if find(d) == d)
    return dict(rows_gated=len(gated), rows_kept=len(keep),
                rows_final=len(final), pairs=n_pairs,
                final_id_hash=str(id_hash(final)))


def _check_planted(docs, exp):
    """The planted structure alone must explain the expected keep set:
    one survivor per exact and per near-duplicate group, every unique
    document kept.  Guards against accidental cross-document matches."""
    tags = {}
    for _, t, _, tag in docs:
        tags[tag[0]] = tags.get(tag[0], set())
        tags[tag[0]].add(tag)
    n_unique = sum(1 for d in docs if d[3] == ("u",))
    planted = n_unique + len(tags.get("x", ())) + len(tags.get("n", ()))
    if planted != exp["rows_final"]:
        raise SystemExit(f"generator: planted {planted} survivors but the "
                         f"reference keeps {exp['rows_final']}")


def gen_corpus(seed, outdir, size="full"):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"corpus:{seed}")
    sz = CORPUS_SIZES[size]
    docs = _plant_docs(rng, sz)
    exp = expected_corpus([(d, t, l) for d, t, l, _ in docs])
    _check_planted(docs, exp)
    os.makedirs(outdir, exist_ok=True)
    tbl = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([f"src{d[0] % 20}" for d in docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(outdir, "documents.parquet"))
    stream = gen_stream(seed, os.path.join(outdir, "stream"), size,
                        waves=CORPUS_STREAM_WAVES)
    truth = dict(workload="corpus_build", seed=seed, size=size,
                 input_rows=len(docs) + stream["input_rows"], stream=stream, **exp)
    _dump_truth(outdir, truth)
    return truth


STREAM_SIZES = {
    "full": dict(waves=8, per_wave=160, vocab=20000),
    "tiny": dict(waves=3, per_wave=20, vocab=3000),
}
# corpus_build feeds the first waves of the same stream after its build
CORPUS_STREAM_WAVES = 2


def gen_stream(seed, outdir, size="full", waves=None):
    """JSON-lines documents in waves.  Wave k's event times lie in hour k,
    so no wave is late for the 10-minute watermark.  Duplicates are
    planted inside a wave within the horizon (state drops them), inside a
    wave across the horizon (the sink's per-batch dedup drops them) and
    across waves (the sink's anti-join drops them)."""
    rng = random.Random(f"stream:{seed}")
    sz = dict(STREAM_SIZES[size], **({"waves": waves} if waves else {}))
    vocab = _vocab(rng, sz["vocab"])
    base_us = 1704067200 * 1_000_000          # 2024-01-01T00:00:00Z
    seen_norm = set()
    cumulative = []
    waves = []
    history = []                              # texts from earlier waves
    next_id = 0
    planted = dict(within_horizon=0, across_horizon=0, across_waves=0, gated=0)
    # the seed orders each wave's kinds of rows, not how many of each: a
    # fresh document first, then 10% copies within the horizon, 5% across
    # it, 7% copies of earlier waves and 4% gated rows, shuffled
    per_wave = sz["per_wave"]
    quota = dict(h=per_wave // 10, x=per_wave // 20, w=per_wave * 7 // 100, g=per_wave // 25)
    for w in range(sz["waves"]):
        rows = []
        hour = base_us + w * 3600 * 1_000_000
        fresh = []
        kinds = [k for k, c in quota.items() for _ in range(c)]
        kinds += ["f"] * (per_wave - 1 - len(kinds))
        rng.shuffle(kinds)
        for kind in ["f"] + kinds:
            ts = hour + rng.randrange(0, 1800 * 1_000_000)
            if kind == "h":
                # same content within the horizon of its first copy
                t0, ts0 = rng.choice(fresh)
                text, ts = _noisy_copy(rng, t0), min(ts0 + rng.randrange(1, 300) * 1_000_000,
                                                     hour + 1799 * 1_000_000)
                planted["within_horizon"] += 1
            elif kind == "x":
                t0, ts0 = rng.choice(fresh)
                text = t0
                ts = ts0 + 20 * 60 * 1_000_000 if ts0 < hour + 900 * 1_000_000 else ts0 - 20 * 60 * 1_000_000
                planted["across_horizon"] += 1
            elif kind == "w" and history:
                text = _noisy_copy(rng, rng.choice(history))
                planted["across_waves"] += 1
            elif kind == "g":
                text = " ".join(rng.choice(vocab) for _ in range(12))
                planted["gated"] += 1
            else:
                lang = rng.choice(["en", "en", "de", "es", "fr"])
                text = " ".join(_doc_tokens(rng, vocab, lang, rng.randint(20, 50)))
                fresh.append((text, ts))
            rows.append(dict(doc_id=next_id, ts=ts, text=text,
                             lang="en", source=f"feed{next_id % 7}"))
            next_id += 1
        for r in rows:
            n = _normalize(r["text"])
            if _passes_gate(n):
                seen_norm.add(n)
        history.extend(t for t, _ in fresh)
        cumulative.append(len(seen_norm))
        lines = []
        for r in rows:
            iso = datetime.datetime.fromtimestamp(
                r["ts"] // 1_000_000, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
            lines.append(json.dumps(dict(doc_id=r["doc_id"], ts=iso,
                                         text=r["text"], lang=r["lang"],
                                         source=r["source"]), sort_keys=True))
        path = os.path.join(outdir, f"wave{w:02d}", f"wave{w:02d}.json")
        _write(path, ("\n".join(lines) + "\n").encode("utf-8"))
        waves.append(dict(dir=f"wave{w:02d}", rows=len(rows)))
    truth = dict(workload="stream_intake", seed=seed, size=size, waves=waves,
                 input_rows=sum(w["rows"] for w in waves),
                 novel_cumulative=cumulative, planted=planted)
    _dump_truth(outdir, truth)
    return truth


# --------------------------------------------------------------------------
# query_mix: star-schema tables with the shapes the registered queries read

SF_SIZES = {
    # rows per table; the shapes follow the sf0.01 test tables
    "full": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, documents=500, users=150),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, documents=50, users=15),
}


def gen_tables(seed, outdir, size="full"):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = SF_SIZES[size]
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    os.makedirs(outdir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))

    def ts(days_lo, days_hi, k, base="1995-01-01"):
        d = rng.integers(days_lo, days_hi, k)
        return pa.array(np.datetime64(base, "us") + d.astype("timedelta64[D]"),
                        pa.timestamp("us"))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(regions)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    seg = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, ns))})
    npart = n["part"]
    adj = np.array(["small", "red", "blue", "large", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj[rng.integers(0, 6, npart)],
                                                       noun[rng.integers(0, 6, npart)])]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(types[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2))})
    no = n["orders"]
    # about 2% of customers place no order (q04's anti-join keeps them)
    ocust = rng.integers(0, int(nc * 0.98), no)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(ocust, pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(money(1000.0, 500000.0, no)),
        "o_orderdate": ts(0, 2404, no),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": ts(1, 2500, nl)})
    ne = n["events"]
    et = np.array(["click", "signup", "error", "view", "purchase"])
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(et[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(1, 100, ne)])})
    nd = n["documents"]
    words = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
    texts = [" ".join(words[i] for i in rng.integers(0, len(words), rng.integers(8, 80)))
             for _ in range(nd)]
    langs = np.array(["en", "en", "en", "de", "es", "fr"])
    write("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 6, nd)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    rows = sum(n[t] for t in ("customer", "supplier", "part", "orders",
                              "lineitem", "events", "documents")) + 30
    truth = dict(workload="query_mix", seed=seed, size=size, table_rows=n,
                 input_rows=rows)
    _dump_truth(outdir, truth)
    return truth


GENERATORS = {"loom_etl": gen_loom, "corpus_build": gen_corpus,
              "stream_intake": gen_stream, "query_mix": gen_tables}


def generate(workload, seed, outdir, size="full"):
    return GENERATORS[workload](seed, outdir, size)


if __name__ == "__main__":
    args = sys.argv[1:]
    size = "full"
    if "--size" in args:
        i = args.index("--size")
        size = args[i + 1]
        del args[i:i + 2]
    wl, seed, out = args
    print(json.dumps(generate(wl, int(seed), out, size)))
