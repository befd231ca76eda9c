"""Seeded input generators for the benchmark.

Independent of the code under test: nothing here imports or mirrors the
program's renderers or gate fixtures. Every generator takes a seed and a
size, writes its inputs under a directory, and returns the ground truth
the checks compare the program's outputs against. The same seed and size
give byte-identical files.
"""
import hashlib
import json
import math
import os

import numpy as np

DAY0 = np.datetime64("2024-07-30")
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
ALNUM = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", dtype=np.uint8)
B64 = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/",
    dtype=np.uint8)
HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)

# (operation, method, has_key, weight): a GET-heavy mix, as bucket logs are
OPERATIONS = [
    ("REST.GET.OBJECT", "GET", True, 0.55),
    ("REST.PUT.OBJECT", "PUT", True, 0.15),
    ("REST.HEAD.OBJECT", "HEAD", True, 0.12),
    ("REST.GET.BUCKET", "GET", False, 0.06),
    ("REST.COPY.OBJECT", "PUT", True, 0.03),
    ("BATCH.DELETE.OBJECT", "POST", True, 0.04),
    ("REST.GET.ACL", "GET", True, 0.02),
    ("REST.HEAD.BUCKET", "HEAD", False, 0.03),
]
# (status, error code, weight)
STATUSES = [
    (200, "-", 0.82), (206, "-", 0.03), (304, "-", 0.04),
    (403, "AccessDenied", 0.04), (404, "NoSuchKey", 0.05),
    (500, "InternalError", 0.01), (503, "SlowDown", 0.01),
]
AGENTS = [
    '"aws-sdk-java/1.12.189 Linux/5.15.0-1064-aws OpenJDK_64-Bit_Server_VM/25.382-b05 java/1.8.0_382"',
    '"Boto3/1.34.34 md/Botocore#1.34.34 ua/2.0 os/linux#5.10.219 md/arch#x86_64 lang/python#3.11.6"',
    '"aws-cli/2.15.30 Python/3.11.8 Linux/6.1.79 exe/x86_64.amzn.2023 prompt/off command/s3.cp"',
    '"Hadoop 3.3.1, aws-sdk-java/1.12.189 Linux/5.15.0-1064-aws scala/2.12.14 cfg/retry-mode/legacy"',
    '"S3Console/0.4"',
    '"Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/126.0 Safari/537.36"',
    '"aws-sdk-go/1.44.0 (go1.21.5; linux; amd64)"',
    '"[aws-sdk-go-v2/1.25.0 os/linux lang/go#1.22.0 md/GOOS#linux api/s3#1.51.0]"',
    '"-"',
]
CIPHERS = ["ECDHE-RSA-AES128-GCM-SHA256", "TLS_AES_128_GCM_SHA256",
           "TLS_AES_256_GCM_SHA384", "-"]


def _probs(ws):
    a = np.asarray(ws, dtype=np.float64)
    return a / a.sum()


def _rand_str(rng, n, width, alphabet):
    """n random strings of `width` characters drawn from `alphabet`."""
    idx = rng.integers(0, len(alphabet), size=(n, width))
    return alphabet[idx].view(f"S{width}").ravel().astype(str).tolist()


def s3_lines(rng, bucket, day, n, malformed_frac=0.004, blank_frac=0.003):
    """`n` raw S3 server-access-log lines for one (bucket, day), in the
    AWS line layout, with a planted share of blank and malformed lines.

    Returns (lines, rows): rows holds one record per valid line, as
    numpy arrays, for the truth computations.
    """
    owner = hashlib.sha256(bucket.encode()).hexdigest()
    secs = rng.integers(0, 86400, size=n)
    base = (np.datetime64(day, "s") - np.datetime64("1970-01-01T00:00:00", "s")
            ).astype(np.int64)
    y, mo, d = (int(p) for p in str(day).split("-"))
    prefix = f"{d:02d}/{MONTHS[mo - 1]}/{y:04d}:"
    hms = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(86400)]

    ip_pool = [f"{a}.{b}.{c}.{e}" for a, b, c, e in
               rng.integers(1, 255, size=(4096, 4)).tolist()]
    ips = rng.zipf(1.3, size=n) % len(ip_pool)
    req_pool = ["-"] + [f"arn:aws:iam::{rng.integers(10**11, 10**12)}:user/svc-{i}"
                        for i in range(24)]
    reqs = rng.zipf(1.6, size=n) % len(req_pool)
    ops = rng.choice(len(OPERATIONS), size=n, p=_probs([o[3] for o in OPERATIONS]))
    sts = rng.choice(len(STATUSES), size=n, p=_probs([s[2] for s in STATUSES]))
    req_ids = _rand_str(rng, n, 16, ALNUM)
    host_ids = _rand_str(rng, n, 56, B64)
    key_hex = _rand_str(rng, n, 12, HEX)
    key_dirs = rng.integers(0, 64, size=n)
    sizes = np.minimum(rng.lognormal(9.5, 2.0, size=n).astype(np.int64), 5 * 10**9)
    totals = rng.lognormal(3.0, 1.2, size=n).astype(np.int64) + 1
    turns = np.maximum(totals - rng.integers(0, 5, size=n), 0)
    agents = rng.zipf(1.5, size=n) % len(AGENTS)
    refs = rng.random(n)
    sigs = rng.random(n)
    ciphers = rng.choice(len(CIPHERS), size=n, p=[0.5, 0.35, 0.1, 0.05])
    tls13 = rng.random(n) < 0.4
    acl = rng.random(n) < 0.03

    lines = []
    bytes_sent = np.full(n, -1, dtype=np.int64)
    host = f"{bucket}.s3.us-east-1.amazonaws.com"
    for i in range(n):
        op, method, has_key, _ = OPERATIONS[ops[i]]
        status, err, _ = STATUSES[sts[i]]
        key = f"data/part-{key_dirs[i]:02d}/{key_hex[i]}.json.gz" if has_key else "-"
        uri = f"/{bucket}/{key}" if has_key else f"/{bucket}/"
        size = int(sizes[i])
        if method == "GET" and status in (200, 206, 304):
            sent = str(size if status != 304 else 0)
            bytes_sent[i] = size if status != 304 else 0
        elif status >= 400:
            sent = "243"
            bytes_sent[i] = 243
        else:
            sent = "-"
        obj = str(size) if has_key and status < 400 else "-"
        turn = str(turns[i]) if method != "HEAD" or status < 400 else "-"
        ref = '"-"' if refs[i] < 0.9 else f'"https://console.aws.amazon.com/s3/{bucket}"'
        sig = "SigV4" if sigs[i] < 0.9 else ("SigV2" if sigs[i] < 0.92 else "-")
        cph = CIPHERS[ciphers[i]]
        auth = "-" if sig == "-" else ("AuthHeader" if sigs[i] < 0.85 else "QueryString")
        tls = "-" if cph == "-" else ("TLSv1.3" if tls13[i] else "TLSv1.2")
        lines.append(
            f"{owner} {bucket} [{prefix}{hms[secs[i]]} +0000] {ip_pool[ips[i]]} "
            f"{req_pool[reqs[i]]} {req_ids[i]} {op} {key} \"{method} {uri} HTTP/1.1\" "
            f"{status} {err} {sent} {obj} {totals[i]} {turn} {ref} {AGENTS[agents[i]]} - "
            f"{host_ids[i]}= {sig} {cph} {auth} {host} {tls} - {'Yes' if acl[i] else '-'}")

    # plant malformed and blank lines at seeded positions; a malformed
    # line keeps 3-12 leading tokens, fewer than the 26 fields a record
    # needs, so it can never parse
    n_bad = int(round(n * malformed_frac))
    n_blank = int(round(n * blank_frac))
    picks = rng.permutation(n)[:n_bad + n_blank]
    valid = np.ones(n, dtype=bool)
    for j, i in enumerate(picks):
        valid[i] = False
        if j < n_bad:
            toks = lines[i].split(" ")
            lines[i] = " ".join(toks[:int(rng.integers(3, 13))])
        else:
            lines[i] = ["", " ", "\t "][j % 3]
    rows = {
        "ts": base + secs[valid],
        "status": np.array([STATUSES[s][0] for s in sts])[valid],
        "bytes_sent": bytes_sent[valid],
        "request_id": np.array(req_ids)[valid],
    }
    return lines, rows, n_bad, n_blank


def _split_loguniform(rng, n, max_lines):
    """File sizes in lines, log-uniform over [1, max_lines], summing to n.
    The sizes are evenly spaced quantiles, so every seed gets the same
    multiset of sizes (and file count) in a seeded order."""
    def sizes(k):
        u = (np.arange(k) + 0.5) / k
        return np.floor(np.exp(u * math.log(max_lines + 1))).astype(np.int64)
    k = 1
    while sizes(k).sum() < n:
        k *= 2
    lo, hi = k // 2, k
    while hi - lo > 1:
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if sizes(mid).sum() < n else (lo, mid)
    out = sizes(hi)
    out[-1] -= out.sum() - n
    out = out[out > 0]
    return [int(x) for x in rng.permutation(out)]


def _write_files(folder, day, lines, sizes, rng):
    """Write `lines` into consecutive files of `sizes` lines, named the
    way S3 log delivery names objects; returns total bytes written."""
    os.makedirs(folder, exist_ok=True)
    stamps = np.sort(rng.integers(0, 86400, size=len(sizes)))
    tags = _rand_str(rng, len(sizes), 16, ALNUM)
    total = 0
    pos = 0
    for k, s in enumerate(sizes):
        t = int(stamps[k])
        name = f"{day}-{t // 3600:02d}-{t // 60 % 60:02d}-{t % 60:02d}-{tags[k]}"
        data = ("\n".join(lines[pos:pos + s]) + "\n").encode()
        with open(os.path.join(folder, name), "wb") as f:
            f.write(data)
        total += len(data)
        pos += s
    return total


def _bucket_truth(rows):
    have = rows["bytes_sent"] >= 0
    return {"rows": int(len(rows["ts"])),
            "sum_bytes_sent": int(rows["bytes_sent"][have].sum()),
            "min_ts": int(rows["ts"].min()), "max_ts": int(rows["ts"].max())}


def s3_day(root, seed, n_lines, layout):
    """One (bucket, day) folder of raw logs: `layout` is "small" (many
    log-uniform files, one line to hundreds of KB) or "bulk" (the same
    line sequence in 4 files). The line set depends only on the seed."""
    rng = np.random.default_rng([seed, 1])
    bucket = f"logs-{seed % 1000:03d}"
    day = str(DAY0)
    lines, rows, n_bad, n_blank = s3_lines(rng, bucket, day, n_lines)
    frng = np.random.default_rng([seed, 2])
    if layout == "small":
        sizes = _split_loguniform(frng, len(lines), 480)
    else:
        q = -(-len(lines) // 4)
        sizes = [min(q, len(lines) - k * q) for k in range(4)]
    folder = os.path.join(root, bucket, day.replace("-", "/"))
    raw_bytes = _write_files(folder, day, lines, sizes, frng)
    return {"bucket": bucket, "day": day, "input_root": root,
            "input_dir": folder, "files": len(sizes), "raw_bytes": raw_bytes,
            "lines": len(lines), "nonblank": len(lines) - n_blank,
            "malformed": n_bad, "blank": n_blank,
            "buckets": {bucket: _bucket_truth(rows)}}


def s3_week(root, seed, n_per_day, n_buckets=1, n_days=7):
    """`n_buckets` × `n_days` folders for the read workload, plus the
    per-row arrays the query truth is computed from."""
    rng = np.random.default_rng([seed, 3])
    days = [str(DAY0 - np.timedelta64(n_days - 1 - k, "D")) for k in range(n_days)]
    buckets = [f"site-{seed % 1000:03d}-{b}" for b in range(n_buckets)]
    table = {}
    raw = 0
    lines_total = 0
    for b in buckets:
        for day in days:
            lines, rows, _, _ = s3_lines(rng, b, day, n_per_day)
            sizes = _split_loguniform(rng, len(lines), 2000)
            raw += _write_files(os.path.join(root, b, day.replace("-", "/")),
                                day, lines, sizes, rng)
            lines_total += len(lines)
            table[(b, day)] = rows
    return {"input_root": root, "buckets": buckets, "days": days,
            "raw_bytes": raw, "lines": lines_total,
            "rows": {k: len(r["ts"]) for k, r in table.items()}}, table


# ---- read-workload query mix -----------------------------------------

def query_mix(seed, week, table, n_queries):
    """A fixed seeded query sequence with each query's true answer.

    kinds: `window` (one hour of one bucket-day), `rollup_day` (per-hour
    rows/errors/bytes of one bucket-day), `rollup_week` (per-day rollup of
    one bucket over the week), `needle` (one request_id in one day).
    """
    rng = np.random.default_rng([seed, 4])
    # a fixed cycle of kinds (40 % window, 30 % needle, 20 % day rollup,
    # 10 % week rollup); the seed picks only their parameters, so every
    # seed measures the same mix
    cycle = ["window", "needle", "rollup_day", "window", "needle",
             "window", "rollup_week", "needle", "window", "rollup_day"]
    out = []
    for qi in range(n_queries):
        kind = cycle[qi % len(cycle)]
        b = week["buckets"][int(rng.integers(len(week["buckets"])))]
        day = week["days"][int(rng.integers(len(week["days"])))]
        rows = table[(b, day)]
        d0 = int((np.datetime64(day, "s") - np.datetime64("1970-01-01T00:00:00", "s")
                  ).astype(np.int64))
        q = {"id": qi, "kind": kind, "bucket": b, "from": day, "to": day}
        if kind == "window":
            h = int(rng.integers(24))
            m = (rows["ts"] >= d0 + 3600 * h) & (rows["ts"] < d0 + 3600 * (h + 1))
            q["start"] = d0 + 3600 * h
            q["answer"] = [_agg(rows, m)]
        elif kind == "rollup_day":
            hours = (rows["ts"] - d0) // 3600
            q["answer"] = [[h] + _agg(rows, hours == h) for h in range(24)
                           if (hours == h).any()]
        elif kind == "rollup_week":
            q["from"], q["to"] = week["days"][0], week["days"][-1]
            q["answer"] = []
            for dd in week["days"]:
                r = table[(b, dd)]
                q["answer"].append([dd] + _agg(r, np.ones(len(r["ts"]), dtype=bool)))
        else:
            i = int(rng.integers(len(rows["ts"])))
            q["request_id"] = str(rows["request_id"][i])
            q["answer"] = [[int(rows["ts"][i]), int(rows["status"][i]),
                            int(rows["bytes_sent"][i]) if rows["bytes_sent"][i] >= 0 else None]]
        out.append(q)
    return out


def _agg(rows, m):
    """[rows, errors (status >= 400), sum of bytes_sent] over mask m."""
    bs = rows["bytes_sent"][m]
    return [int(m.sum()), int((rows["status"][m] >= 400).sum()),
            int(bs[bs >= 0].sum()) if (bs >= 0).any() else None]


# ---- curation corpus -----------------------------------------------------

STOP = ["the", "a", "of", "and", "to", "in", "is"]


def corpus(root, seed, n_docs, n_vecs, dim=32, n_queries=24):
    """A text corpus with planted quality classes, near-duplicate
    clusters (pairs and chains), holdout contamination, plus an embedding
    table with clustered vectors and planted exact clones. Written as
    parquet; returns the generation record (truth is recomputed from the
    files by the checks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 5])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, size=int(rng.integers(3, 10))))
                    for _ in range(4000)} - set(STOP))
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf_p /= zipf_p.sum()

    def words(k):
        return [vocab[i] for i in rng.choice(len(vocab), size=k, p=zipf_p)]

    def prose(k):
        ws = words(k)
        for i in range(0, k, 4):  # one stopword in four: ratio 0.25
            ws[i] = STOP[int(rng.integers(len(STOP)))]
        return ws

    texts = {}
    planted = {"pairs": [], "contaminated": []}
    # fixed class counts in a seeded order, so every seed does the same
    # amount of work in each layer
    shares = [0.78, 0.06, 0.06, 0.05, 0.05]
    classes = np.concatenate([np.full(int(round(n_docs * p)), c)
                              for c, p in enumerate(shares)])
    doc_id = 0
    for c in rng.permutation(classes):
        doc_id += 1
        if c == 0:
            ws = prose(int(rng.integers(40, 160)))
        elif c == 1:      # too short
            ws = prose(int(rng.integers(5, 15)))
        elif c == 2:      # no stopwords: non-target language
            ws = words(int(rng.integers(40, 120)))
        elif c == 3:      # one looping phrase: repetitive
            ph = prose(6)
            ws = (ph * 30)[:int(rng.integers(60, 150))]
        else:             # sparse stopwords and heavy punctuation: low quality
            ws = words(int(rng.integers(25, 35)))
            for i in range(0, len(ws), 20):
                ws[i] = "the"
            ws = [w + ";;" for w in ws]
        texts[doc_id] = ws
    plain = list(texts)

    # near-duplicate clusters of fresh prose docs, all of one shape: two
    # variants of the parent and a variant of the second variant, so the
    # last one joins the cluster only through transitivity
    def variant(ws):
        ws = list(ws)
        for p in rng.choice(len(ws), size=max(1, len(ws) // 40), replace=False):
            ws[p] = vocab[int(rng.integers(len(vocab)))]
        return ws
    for _ in range(max(2, n_docs // 25)):
        doc_id += 1
        parent = doc_id
        texts[parent] = prose(int(rng.integers(60, 140)))
        for src in (parent, parent, parent + 2):
            doc_id += 1
            texts[doc_id] = variant(texts[src])
            planted["pairs"].append([src, doc_id])

    # contamination: copy an 8-token span of a holdout doc (id % 50 == 0)
    # into a plain doc
    holdouts = [i for i in texts if i % 50 == 0 and len(texts[i]) >= 12]
    cands = [i for i in plain if i % 50 != 0 and len(texts[i]) >= 40]
    for i in rng.choice(len(cands), size=min(len(cands), max(2, n_docs // 40)),
                        replace=False):
        h = texts[holdouts[int(rng.integers(len(holdouts)))]]
        s = int(rng.integers(0, len(h) - 8))
        tgt = texts[cands[int(i)]]
        p = int(rng.integers(0, len(tgt) - 8))
        tgt[p:p + 8] = h[s:s + 8]
        planted["contaminated"].append(cands[int(i)])

    ids = sorted(texts)
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array([" ".join(texts[i]) for i in ids])})
    os.makedirs(root, exist_ok=True)
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    centers = rng.normal(size=(16, dim))
    lab = rng.integers(0, 16, size=n_vecs)
    vec = (centers[lab] + rng.normal(scale=0.6, size=(n_vecs, dim))).astype(np.float32)
    vid = np.arange(1, n_vecs + 1, dtype=np.int64)
    n_clones = max(4, n_vecs // 50)
    src = rng.choice(n_vecs, size=n_clones, replace=False)
    vec = np.vstack([vec, vec[src]])
    vid = np.concatenate([vid, 1_000_000 + vid[src]])
    emb = pa.table({"vec_id": pa.array(vid),
                    "embedding": pa.array(list(vec), pa.list_(pa.float32()))})
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    queries = sorted(rng.choice(n_vecs, size=n_queries, replace=False) + 1)
    rec = {"root": root, "docs": len(ids), "vecs": int(len(vid)),
           "clones": [[int(vid[s]), int(1_000_000 + vid[s])] for s in src],
           "queries": [int(q) for q in queries], "planted": planted}
    with open(os.path.join(root, "planted.json"), "w") as f:
        json.dump({k: v for k, v in rec.items() if k != "root"}, f)
    return rec


def tree_digest(root):
    """sha256 over every file under `root` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for name in sorted(fs):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
