"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes into a
seed-keyed directory under .bench_build/inputs, which is reused by later
runs with the same seed.  The generators emit their own expectations
(row counts, NULL durations, malicious rows, lookup answers) so the
harness can check the program's outputs against them.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so cached inputs are rebuilt.
VERSION = 7
KEEP_CACHED = 4

# ---- sizes (fixed per workload; the seed changes only the values) ----
REFRESH_ROWS = 40_000
REFRESH_FILES = 8
REFRESH_LOOKUPS = 96          # half hits, half misses
EVENT_ROWS_PER_FILE = 400
EVENT_BACKLOG_FILES = 8
EVENT_POOL_FILES = 100
EVENT_FILES_PER_S = 2.0
EVENT_USERS = 200
EVENT_FILE_SPAN_S = 600       # event time covered by one file
EVENT_HEARTBEAT_FILES = 4     # every user appears at least this often
EVENT_MAX_LATENESS_S = 300    # below the streams' 10-minute watermark
EVENT_DUP_SHARE = 0.03
QUERY_SF = 0.01

IOT_HEADER = ("uid,id.orig_h,id.orig_p,id.resp_h,id.resp_p,proto,service,duration,"
              "orig_bytes,resp_bytes,conn_state,local_orig,local_resp,missed_bytes,"
              "history,orig_pkts,orig_ip_bytes,resp_pkts,resp_ip_bytes,tunnel_parents,"
              "label,detailed-label")
B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def inputs_dir(root, workload, seed):
    return os.path.join(root, ".bench_build", "inputs", f"{workload}-s{seed}-v{VERSION}")


def ensure(root, workload, seed):
    """Returns the cached input directory for (workload, seed), generating it once."""
    out = inputs_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        os.utime(out)
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    evict(os.path.dirname(out))
    return out


def evict(parent):
    """Keeps only the most recently used input sets."""
    dirs = [os.path.join(parent, d) for d in os.listdir(parent) if not d.endswith(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_CACHED:]:
        shutil.rmtree(d, ignore_errors=True)


def rng_for(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


# ---- IoT-23 conn.log ---------------------------------------------------

class IotGen:
    """conn.log rows covering every value class of fixtures/iot_conn.csv:
    pandas-timedelta, plain float, `-` and empty durations, malformed
    `N days abc`, `T`/`F`/empty local flags, `-` and empty service."""

    SERVICES = ["http", "ssl", "dns", "ssh", "ntp", "dhcp", "-", ""]
    STATES = ["SF", "S0", "REJ", "S1", "RSTO", "OTH"]
    HISTORY = ["ShADadFf", "D", "Dd", "Sr", "ShAdDa", "S"]
    DETAIL = ["PartOfAHorizontalPortScan", "C&C", "Okiru", "DDoS", "Attack"]
    FLAGS = ["T", "F", ""]

    def __init__(self, seed):
        r = rng_for(seed, 1)
        self.mult = int(r.integers(1, 2**38)) * 2 + 1
        self.add = int(r.integers(0, 2**40))
        self.prefix = B62[int(r.integers(0, 62))]

    def uid(self, i):
        """A bijection of the row index, so uids are unique and unordered."""
        x = (i * self.mult + self.add) % (2**47)
        s = []
        for _ in range(8):
            x, d = divmod(x, 62)
            s.append(B62[d])
        return "C" + self.prefix + "".join(s)

    def rows(self, r, first, n):
        """Returns (csv lines, expectations) for rows first..first+n-1.
        Each expectation is (uid, label, duration_sec or None, orig_bytes or None)."""
        dclass = r.choice(5, size=n, p=[0.45, 0.35, 0.08, 0.06, 0.06])
        days = r.integers(0, 4, n)
        hh, mm, ss = r.integers(0, 24, n), r.integers(0, 60, n), r.integers(0, 60, n)
        us = r.integers(0, 1_000_000, n)
        plain = r.integers(0, 2**24, n)
        malicious = r.random(n) < 0.3
        orig_null = r.random(n) < 0.05
        orig_bytes = r.integers(0, 100_000, n)
        resp_bytes = r.integers(0, 100_000, n)
        v6 = r.random(n) < 0.05
        a, b = r.integers(0, 256, n), r.integers(1, 255, n)
        oport, rport = r.integers(1024, 65536, n), r.choice([80, 443, 53, 22, 123, 8080, 547], n)
        proto = r.choice(["tcp", "udp", "icmp"], n, p=[0.6, 0.35, 0.05])
        svc = r.integers(0, len(self.SERVICES), n)
        st, hist = r.integers(0, len(self.STATES), n), r.integers(0, len(self.HISTORY), n)
        lo, lr = r.integers(0, 3, n), r.integers(0, 3, n)
        pk = r.integers(0, 500, n, endpoint=True)
        det = r.integers(0, len(self.DETAIL), n)
        tunnel = r.random(n) < 0.1
        lines, exp = [], []
        f32 = np.float32
        for i in range(n):
            u = self.uid(first + i)
            c = dclass[i]
            if c == 0:
                dur = f"{days[i]} days {hh[i]:02d}:{mm[i]:02d}:{ss[i]:02d}.{us[i]:06d}"
                sec = (float(f32(days[i])) * 86400.0 + float(f32(hh[i])) * 3600.0
                       + float(f32(mm[i])) * 60.0 + float(f32(ss[i]))
                       + float(f32(us[i])) / 1000000.0)
            elif c == 1:
                sec = plain[i] / 1024.0          # exact in float32 and in decimal
                dur = repr(sec)
            elif c == 2:
                dur, sec = "-", None
            elif c == 3:
                dur, sec = f"{days[i] + 1} days abc", None
            else:
                dur, sec = "", None
            label = "Malicious" if malicious[i] else "Benign"
            ob = None if orig_null[i] else int(orig_bytes[i])
            orig_h = f"fe80::{a[i]:x}" if v6[i] else f"192.168.{a[i]}.{b[i]}"
            lines.append(",".join([
                u, orig_h, str(oport[i]), f"10.{b[i]}.{a[i]}.{b[i]}", str(rport[i]), proto[i],
                self.SERVICES[svc[i]], dur, "-" if ob is None else str(ob), str(resp_bytes[i]),
                self.STATES[st[i]], self.FLAGS[lo[i]], self.FLAGS[lr[i]],
                "100" if pk[i] == 0 else "0", self.HISTORY[hist[i]], str(pk[i]),
                str(pk[i] * 60), str(pk[i] // 2), str(pk[i] * 30),
                "(empty)" if tunnel[i] else "-", label,
                self.DETAIL[det[i]] if malicious[i] else "-"]))
            exp.append((u, label, sec, ob))
        return lines, exp


def write_csv(path, lines):
    with open(path, "w") as f:
        f.write(IOT_HEADER + "\n")
        f.write("\n".join(lines) + "\n")
    return os.path.getsize(path)


def lookup_lines(gen, r, exp, first_miss, count):
    """Alternating hits and misses; a miss is a uid outside the generated rows."""
    hits = r.choice(len(exp), size=count // 2, replace=False)
    null = "\\N"
    out = []
    for k, i in enumerate(hits):
        u, label, sec, ob = exp[i]
        out.append("\t".join([u, "1", label, null if sec is None else repr(sec),
                              null if ob is None else str(ob)]))
        out.append("\t".join([gen.uid(first_miss + k), "0", "", null, null]))
    return out


def expected_counts(exp):
    return {"rows": len(exp),
            "null_durations": sum(1 for e in exp if e[2] is None),
            "malicious_rows": sum(1 for e in exp if e[1] == "Malicious")}


def write_props(path, d):
    with open(path, "w") as f:
        for k, v in d.items():
            f.write(f"{k}={v}\n")


def gen_iot_refresh(out, seed, rows=REFRESH_ROWS, files=REFRESH_FILES, lookups=REFRESH_LOOKUPS):
    gen, r = IotGen(seed), rng_for(seed, 2)
    os.makedirs(os.path.join(out, "csv"))
    exp, csv_bytes, per = [], 0, rows // files
    for k in range(files):
        n = per if k < files - 1 else rows - per * (files - 1)
        lines, e = gen.rows(r, len(exp), n)
        csv_bytes += write_csv(os.path.join(out, "csv", f"part-{k:03d}.csv"), lines)
        exp += e
    with open(os.path.join(out, "lookups.tsv"), "w") as f:
        f.write("\n".join(lookup_lines(gen, r, exp, rows, lookups)) + "\n")
    write_props(os.path.join(out, "expected.properties"),
                dict(expected_counts(exp), csv_bytes=csv_bytes))
    return exp


# ---- events -------------------------------------------------------------

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
T0_NS = 1_704_067_200 * 10**9          # 2024-01-01T00:00:00Z


def event_files(seed, stream, files, rows):
    """Event files with skewed user keys, duplicate event ids (resent in
    the same or the next file) and out-of-order events whose lateness
    stays below the watermark.  Each user appears at least every
    EVENT_HEARTBEAT_FILES files, so no per-user state times out."""
    r = rng_for(seed, stream)
    zipf_w = 1.0 / np.arange(1, EVENT_USERS + 1) ** 1.2
    zipf_w /= zipf_w.sum()
    user_perm = r.permutation(EVENT_USERS)
    next_id, prev = 0, None
    span_ns = EVENT_FILE_SPAN_S * 10**9
    for k in range(files):
        start = T0_NS + k * span_ns
        beat = np.arange(EVENT_USERS)[(np.arange(EVENT_USERS) + k) % EVENT_HEARTBEAT_FILES == 0]
        n_dup = int(rows * EVENT_DUP_SHARE)
        n_new = rows - n_dup
        users = np.concatenate([beat, user_perm[r.choice(EVENT_USERS, n_new - len(beat), p=zipf_w)]])
        ts = start + r.integers(0, span_ns, n_new)
        late = r.random(n_new) < 0.2
        ts = np.where(late, ts - r.integers(0, EVENT_MAX_LATENESS_S * 10**9, n_new), ts)
        ts = np.maximum(ts, T0_NS)
        new = {
            "event_id": np.arange(next_id, next_id + n_new, dtype=np.int64),
            "ts": ts.astype(np.int64),
            "user_id": users.astype(np.int64),
            "event_type": EVENT_TYPES[r.integers(0, 5, n_new)],
            "value": np.maximum(np.round(r.lognormal(3.3, 1.0, n_new), 2), 0.01),
            "props": np.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n_new)]),
        }
        next_id += n_new
        src = new if prev is None or r.random() < 0.5 else prev
        pick = r.choice(len(src["event_id"]), n_dup, replace=False)
        batch = {c: np.concatenate([new[c], src[c][pick]]) for c in new}
        order = r.permutation(rows)
        batch = {c: v[order] for c, v in batch.items()}
        prev = new
        yield batch


EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
                          ("event_type", pa.string()), ("value", pa.float64()),
                          ("props", pa.string())])


def gen_events(out, seed):
    backlog_bytes = 0
    for sub in ("backlog", "live", "warm"):
        os.makedirs(os.path.join(out, sub))
    files = event_files(seed, 4, EVENT_BACKLOG_FILES + EVENT_POOL_FILES, EVENT_ROWS_PER_FILE)
    for k, batch in enumerate(files):
        sub, idx = (("backlog", k) if k < EVENT_BACKLOG_FILES
                    else ("live", k - EVENT_BACKLOG_FILES))
        path = os.path.join(out, sub, f"e{idx:05d}.parquet")
        pq.write_table(pa.table(batch, schema=EVENT_SCHEMA), path)
        if sub == "backlog":
            backlog_bytes += os.path.getsize(path)
    for k, batch in enumerate(event_files(seed, 5, 1, EVENT_ROWS_PER_FILE)):
        pq.write_table(pa.table(batch, schema=EVENT_SCHEMA),
                       os.path.join(out, "warm", f"e{k:05d}.parquet"))
    write_props(os.path.join(out, "expected.properties"),
                dict(rows_per_file=EVENT_ROWS_PER_FILE, files_per_s=EVENT_FILES_PER_S,
                     backlog_bytes=backlog_bytes))


# ---- star schema for the query mix ------------------------------------

WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]


def _ts(r, lo, hi, n):
    days = r.integers(np.datetime64(lo, "D").astype(int), np.datetime64(hi, "D").astype(int), n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def gen_query_mix(out, seed, sf=QUERY_SF):
    """TPC-H-like tables plus events, documents and embeddings, in the
    layout graft.Tables reads (one parquet file per table)."""
    r = rng_for(seed, 6)
    d = os.path.join(out, "tables")
    os.makedirs(d)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc, n_emb = (500, 500) if sf <= 0.01 else (5000, 2000)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                  "AUTOMOBILE"])[r.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                            "LARGE"])[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "F", "O"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": _ts(r, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts(r, "1995-01-02", "2001-11-05", n_li)})
    gaps = r.exponential(30 * 86400 / n_ev, n_ev)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.cumsum(gaps * 1e6).astype("timedelta64[us]"))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": EVENT_TYPES[[3, 4, 1, 0, 2]][r.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(r.lognormal(3.4, 1.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            base = texts[int(r.integers(0, i))]
            extra = " ".join(WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(1, 12))))
            texts.append(f"{base} {extra} dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  r.integers(0, len(WORDS), int(r.integers(10, 100)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": np.array(["en", "zh", "es", "de", "fr"])[
            r.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + r.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def gen_ingest(out, seed):
    gen_iot_refresh(os.path.join(out, "iot"), seed)
    gen_events(os.path.join(out, "events"), seed)


GENERATORS = {
    "ingest": gen_ingest,
    "query_mix": gen_query_mix,
}
