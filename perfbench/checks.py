"""Correctness checks: every output a run produces is compared with the
generator's ground truth, read back with DuckDB and numpy, never with the
program under test. Each check that fails counts its operation as failed.
"""
import glob
import hashlib
import os
import string

import duckdb
import numpy as np
import pyarrow.parquet as pq


class Report:
    def __init__(self):
        self.checks = []
        self.failed_ops = set()

    def add(self, name, ok, detail="", op=None):
        self.checks.append({"name": name, "ok": bool(ok), "detail": str(detail)})
        if not ok and op is not None:
            self.failed_ops.add(op)


def _all_ops(res):
    ops = [("cold", res["cold"])]
    ops += [(f"warm{i}", o) for i, o in enumerate(res.get("warm", []))]
    ops += [(f"op{i}", o) for i, o in enumerate(res["ops"])]
    ops += [(f"traced{i}", o) for i, o in enumerate(res.get("traced_ops", []))]
    return ops


def check(workload, res, truth, spec):
    rep = Report()
    ops = _all_ops(res)
    for name, o in ops:
        rep.add(f"{name}.no_error", o["error"] is None, o["error"] or "", op=name)
    if workload in ("s3_day_smallfiles", "s3_day_bulk"):
        recall, layers = _compaction(rep, ops, truth, spec)
    elif workload == "athena_reads":
        recall, layers = _reads(rep, ops, truth, spec)
    else:
        recall, layers = _curation(rep, ops, truth, spec)
    return {"checks": rep.checks, "attempted": len(ops),
            "failed": len(rep.failed_ops), "recall": recall, "layers": layers}


# ---- compaction ----------------------------------------------------------

def _compacted(con, d):
    """Counts, per-bucket facts and physical sort violations of one
    compacted output directory."""
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    src = f"read_parquet('{d}/*.parquet', filename=true, file_row_number=true)"
    rows, dead = con.sql(f"select count(*), count(error_line) from {src}").fetchone()
    per_bucket = {b: {"rows": n, "sum_bytes_sent": s, "min_ts": lo, "max_ts": hi}
                  for b, n, s, lo, hi in con.sql(
                      f"select s3_bucket, count(*), coalesce(sum(bytes_sent), 0), "
                      f"min(epoch_ms(request_time)) // 1000, "
                      f"max(epoch_ms(request_time)) // 1000 from {src} "
                      f"where error_line is null group by 1").fetchall()}
    unsorted = con.sql(
        f"select count(*) from (select request_time t, "
        f"lag(request_time) over w p, lag(request_time is null) over w pn "
        f"from {src} window w as (partition by filename order by file_row_number)) "
        f"where (t is not null and p is not null and t < p) "
        f"or (t is null and pn = false)").fetchone()[0]
    return files, rows, dead, per_bucket, unsorted


def _compaction(rep, ops, truth, spec):
    con = duckdb.connect()
    con.sql("set threads=2")
    n_max = spec["num_output_files"]
    matched = total = 0
    layers = {}
    for name, o in ops:
        out = o["output"]
        if o["error"] is not None:
            continue
        d = out["dest"] if isinstance(out, dict) else out
        files, rows, dead, per_bucket, unsorted = _compacted(con, d)
        facts = [
            ("rows", rows == truth["nonblank"], f"{rows} vs {truth['nonblank']}"),
            ("dead_letters", dead == truth["malformed"], f"{dead} vs {truth['malformed']}"),
            ("bucket_truth", per_bucket == truth["buckets"], ""),
            ("files_le_n", 0 < len(files) <= n_max, f"{len(files)} files"),
            ("sorted_in_file", unsorted == 0, f"{unsorted} out of order"),
        ]
        if isinstance(out, dict):
            facts += [("traced_lines", out["lines"] == truth["nonblank"], out["lines"]),
                      ("traced_dead", out["dead_letters"] == truth["malformed"],
                       out["dead_letters"])]
        for fact, ok, detail in facts:
            rep.add(f"{name}.{fact}", ok, detail, op=name)
            matched += ok
            total += 1
        sizes = [os.path.getsize(f) for f in files]
        layers = {
            "logetl.output_files": (len(files), "count"),
            "logetl.output_bytes": (sum(sizes), "bytes"),
            "logetl.row_groups": (sum(pq.ParquetFile(f).metadata.num_row_groups
                                      for f in files), "count"),
            "logetl.file_skew": (max(sizes) / (sum(sizes) / len(sizes)), "ratio"),
            "logetl.bytes_out_per_in": (sum(sizes) / truth["raw_bytes"], "ratio"),
            "logetl.input_files": (truth["files"], "count"),
            "s3accesslog.lines": (rows, "count"),
            "s3accesslog.dead_letters": (dead, "count"),
        }
        if isinstance(out, dict):
            layers["logetl.scan_tasks"] = (out["scan_tasks"], "count")
    con.close()
    return (matched / total if total else 0.0), layers


# ---- reads -----------------------------------------------------------------

def _reads(rep, ops, truth, spec):
    con = duckdb.connect()
    for b in truth["buckets"]:
        for day in truth["days"]:
            d = os.path.join(truth["table_root"], b, day.replace("-", "/"))
            n = len(glob.glob(os.path.join(d, "*.parquet")))
            rows = con.sql(f"select count(*) from read_parquet('{d}/*.parquet') "
                           f"where error_line is null").fetchone()[0] if n else 0
            ok = 0 < n <= spec["num_output_files"] and rows == truth["rows"][(b, day)]
            rep.add(f"cold.table.{b}.{day}", ok, f"{n} files, {rows} rows", op="cold")
    con.close()
    answers = {q["id"]: q["answer"] for q in truth["mix"]}
    right = total = 0
    for name, o in ops:
        if o["error"] is not None or name == "cold":
            continue
        q = o["output"]["q"]
        ok = o["output"]["rows"] == answers[q]
        rep.add(f"{name}.q{q}", ok, "" if ok else
                f"got {o['output']['rows'][:3]} want {answers[q][:3]}", op=name)
        right += ok
        total += 1
    return (right / total if total else 0.0), {}


# ---- curation ----------------------------------------------------------------

STOP = {"the", "a", "of", "and", "to", "in", "is"}
PUNCT = set(string.punctuation)


def _verdict(text):
    toks = text.split(" ")
    n = len(toks)
    sr = sum(t in STOP for t in toks) / n
    pr = sum(c in PUNCT for c in text) / len(text) if text else 0.0
    dup2 = ((n - 1) - len(set(zip(toks, toks[1:])))) / (n - 1) if n >= 2 else 0.0
    q = 0.5 * min(sr / 0.08, 1.0) + 0.3 * min(n / 100.0, 1.0) + \
        0.2 * (1.0 - min(pr / 0.2, 1.0))
    if n < 20:
        return "too_short"
    if sr < 0.04:
        return "non_target_lang"
    if dup2 > 0.08:
        return "repetitive"
    if q < 0.6:
        return "low_quality"
    return "keep"


def _grams(toks, n):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def curation_truth(rec):
    """The cu01 composition recomputed in plain Python, plus exact cosine
    neighbours for the ANN queries."""
    docs = pq.read_table(os.path.join(rec["root"], "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    kept = sorted(i for i, t in text.items() if _verdict(t) == "keep")
    sh = {i: _grams(text[i].split(" "), 3) for i in kept if len(text[i].split(" ")) >= 3}
    post = {}
    for i, g in sh.items():
        for s in g:
            post.setdefault(s, []).append(i)
    cand = set()
    for ids in post.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((min(ids[x], ids[y]), max(ids[x], ids[y])))
    jac = {(a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b]) for a, b in cand}
    edges = [p for p, j in jac.items() if j >= 0.5]
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {x: find(x) for x in parent}
    losers = {x for x, c in labels.items() if x != c}
    cands = [i for i in kept if i not in losers and i % 50 != 0]
    hold = set()
    for i, t in text.items():
        if i % 50 == 0 and len(t.split(" ")) >= 5:
            hold |= _grams(t.split(" "), 5)
    hits = {i for i in cands if len(text[i].split(" ")) >= 5
            and _grams(text[i].split(" "), 5) & hold}
    train = [i for i in cands if i not in hits
             and hashlib.md5(str(i).encode()).hexdigest()[:2] < "f5"]
    pack, s = [], 0
    for i in train:
        n = len(text[i].split(" "))
        for q in range(s // 512, (s + n - 1) // 512 + 1):
            lo = max(s, q * 512)
            pack.append([i, q, lo - q * 512, lo - s, min(s + n, (q + 1) * 512) - lo])
        s += n
    planted = [tuple(p) for p in rec["planted"]["pairs"]
               if p[0] in sh and p[1] in sh
               and jac.get((min(p), max(p)), 0.0) >= 0.5]

    emb = pq.read_table(os.path.join(rec["root"], "embeddings.parquet")).to_pydict()
    vid = np.array(emb["vec_id"], dtype=np.int64)
    vec = np.array(emb["embedding"], dtype=np.float64)
    # the dedup tau-join compares vectors rounded to 6 decimals
    r6 = np.round(vec, 6)
    unit6 = r6 / np.linalg.norm(r6, axis=1, keepdims=True)
    base = vid < 1_000_000
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    bid = vid[base]
    bu = unit[base]
    pos = {int(v): k for k, v in enumerate(bid)}
    ann = {}
    for q in rec["queries"]:
        sims = bu @ bu[pos[q]]
        sims[pos[q]] = -np.inf
        top = np.sort(sims)[-10:]
        ann[q] = (sims, float(top[0]))
    return {"labels": labels, "pack": pack, "planted": planted, "jac_edges": set(edges),
            "ann": ann, "ann_pos": pos, "vid": vid, "unit6": unit6,
            "clones": rec["clones"], "kept": len(kept), "docs": len(text)}


def _curation(rep, ops, rec, spec):
    t = curation_truth(rec)
    recalls = []
    layers = {}
    for name, o in ops:
        if o["error"] is not None:
            continue
        out = o["output"]
        cc = {int(a): int(b) for a, b in out["cc"]}
        rep.add(f"{name}.cc_labels", cc == t["labels"],
                f"{len(cc)} nodes vs {len(t['labels'])}", op=name)
        rep.add(f"{name}.pack", out["pack"] == t["pack"],
                f"{len(out['pack'])} rows vs {len(t['pack'])}", op=name)
        found = sum(cc.get(a) is not None and cc.get(a) == cc.get(b)
                    for a, b in t["planted"])
        removed = {x for x, c in cc.items() if x != c}
        true_removed = {x for x, c in t["labels"].items() if x != c}
        d_recall = found / len(t["planted"]) if t["planted"] else 1.0
        d_prec = len(removed & true_removed) / len(removed) if removed else 1.0

        by_q = {}
        for q, c, r in out["ann"]:
            by_q.setdefault(int(q), []).append((int(r), int(c)))
        hits = 0
        ok_shape = True
        for q, (sims, s10) in t["ann"].items():
            got = [c for _, c in sorted(by_q.get(q, []))]
            ok_shape &= len(got) <= 10 and q not in got and len(set(got)) == len(got)
            hits += sum(sims[t["ann_pos"][c]] >= s10 - 1e-9 for c in got
                        if c in t["ann_pos"])
        ann_recall = hits / (10.0 * len(t["ann"]))
        rep.add(f"{name}.ann_shape", ok_shape, "", op=name)
        recalls.append(ann_recall)

        sem_ok, sem_detail = _semdedup(out["sem"], t)
        rep.add(f"{name}.semdedup", sem_ok, sem_detail, op=name)
        layers = {"dedup.recall": (d_recall, "frac"),
                  "dedup.precision": (d_prec, "frac"),
                  "similarity.ann_recall_at_10": (ann_recall, "frac"),
                  "textanalysis.kept_frac": (t["kept"] / t["docs"], "frac"),
                  "dedup.pairs_found": (len(t["jac_edges"]), "count")}
        if "kept" in out:
            rep.add(f"{name}.kept", out["kept"] == t["kept"],
                    f"{out['kept']} vs {t['kept']}", op=name)
            rep.add(f"{name}.pairs_found", out["pairs_found"] == len(t["jac_edges"]),
                    f"{out['pairs_found']} vs {len(t['jac_edges'])}", op=name)
    return (float(np.median(recalls)) if recalls else 0.0), layers


def _semdedup(rows, t):
    """Given the output clusters, dup_of must be the lowest-id vector of
    the same cluster with cosine >= 0.99, and every planted clone must be
    removed."""
    pos = {int(v): k for k, v in enumerate(t["vid"])}
    if sorted(int(r[0]) for r in rows) != sorted(pos):
        return False, "vector ids differ from input"
    cluster = {int(r[0]): int(r[1]) for r in rows}
    members = {}
    for v in sorted(cluster):
        members.setdefault(cluster[v], []).append(v)
    bad = 0
    for v, c, dup_of, keep in rows:
        v = int(v)
        lower = [u for u in members[cluster[v]] if u < v]
        want = None
        if lower:
            sims = t["unit6"][[pos[u] for u in lower]] @ t["unit6"][pos[v]]
            close = [u for u, s in zip(lower, sims) if s >= 0.99 - 1e-9]
            if any(abs(s - 0.99) < 1e-9 for s in sims):
                continue  # too close to the threshold to judge in doubles
            want = close[0] if close else None
        if dup_of != want or keep != (want is None):
            bad += 1
    kept = {int(r[0]) for r in rows if r[3]}
    missed = sum(c in kept for _, c in t["clones"])
    return bad == 0 and missed == 0, f"{bad} wrong rows, {missed} clones kept"
