"""Seeded input generators for the three benchmark workloads.

Every generator takes a seed and an output directory (the batch ones also
a `scale` for the small warm-up copy), writes only files
(the program under test receives nothing else), and returns a dict of
the properties it aimed for next to the ones it measured on its own
output. `check_props` fails the run when a measured property misses its
target, so a generator bug cannot silently change what is measured.

    clickstream_reports  events.parquet + region/nation/supplier/part/lineitem
    corpus_build         documents.parquet
    adclick_realtime     reference-format lines `ts_ms province city user ad`,
                         split into a backlog and a fixed-rate live schedule
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

CLICK_USERS = 20_000
CLICK_SESSIONS = 8_000           # x ~50 actions = ~400k events
LINEITEMS = 200_000
PARTS = 20_000
SUPPLIERS = 1_000

CORPUS_DOCS = 1_000
VOCAB = 3_000

AD_USERS = 10_000
AD_ADS = 100
AD_BOTS = 200
AD_RATE = 1_000                  # live events per second
AD_PERIOD_MS = 100               # one live file per period
AD_BACKLOG_S = 10                # outage length replayed as backlog
AD_THRESHOLD = 3                 # blacklist threshold (clicks per user, ad, day)
AD_LATE_SHARE = 0.01
# 2018-12-04 12:00:00 UTC, the event-time origin of every ad line
AD_BASE_MS = 1_543_924_800_000
PROVINCES = [("Jiangsu", "Nanjing"), ("Hubei", "Wuhan"), ("Hunan", "Changsha"),
             ("Henan", "Zhengzhou"), ("Hebei", "Shijiazhuang")]

SESSION_GAP_S = 1800


def _zipf_probs(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


ROW_GROUP = 32_768   # several row groups per file, so scans split across cores


def _write(table, path):
    pq.write_table(pa.table(table), path, row_group_size=ROW_GROUP)


def _close(measured, aimed, rel):
    return abs(measured - aimed) <= rel * abs(aimed)


# ------------------------------------------------------- clickstream

EVENT_TYPES = np.array(["view", "click", "purchase", "search", "error"])
# Markov page flow: row = previous type, column = next type
FLOW = np.array([
    [0.45, 0.35, 0.02, 0.15, 0.03],   # after view
    [0.40, 0.25, 0.25, 0.08, 0.02],   # after click
    [0.70, 0.10, 0.05, 0.14, 0.01],   # after purchase
    [0.75, 0.15, 0.00, 0.08, 0.02],   # after search
    [0.80, 0.10, 0.00, 0.08, 0.02],   # after error
])


def gen_clickstream(seed, out, scale=1.0):
    rng = np.random.default_rng([seed, 1])
    n_sessions, n_lineitems = int(CLICK_SESSIONS * scale), int(LINEITEMS * scale)
    # sessions per user: Zipf over the user ids, so the hottest user holds
    # ~10% of all events and its window partition runs hot. Popularity rank
    # = id on every seed: which hash partitions the heavy users land in is
    # then the same from seed to seed, and so is the skew
    sess_user = rng.choice(CLICK_USERS, n_sessions, p=_zipf_probs(CLICK_USERS, 1.0))
    sess_user.sort(kind="stable")
    n_act = rng.integers(1, 100, n_sessions)                # 1..99 actions
    n_ev = int(n_act.sum())
    # seconds between consecutive actions of one session
    step = rng.integers(1, 61, n_ev).astype(np.int64)
    first = np.r_[0, np.cumsum(n_act)[:-1]]
    step[first] = 0
    # session start = previous session end + a gap longer than the cutoff
    within = np.cumsum(step)
    within -= np.repeat(within[first], n_act)
    dur = within[np.cumsum(n_act) - 1]
    gap = SESSION_GAP_S + 1 + rng.integers(0, 7200, n_sessions)
    new_user = np.r_[True, sess_user[1:] != sess_user[:-1]]
    offset = rng.integers(0, 86_400, n_sessions)            # user's first start
    span = dur + gap
    csum = np.cumsum(span) - span
    grp_start = np.maximum.accumulate(np.where(new_user, np.arange(n_sessions), 0))
    start = csum - csum[grp_start] + offset[grp_start]
    t0_us = 1_704_067_200 * 1_000_000                        # 2024-01-01 UTC
    ts_us = (t0_us + (np.repeat(start, n_act) + within) * 1_000_000
             + rng.integers(0, 1_000_000, n_ev))
    # page flow, one Markov chain per session
    u = rng.random(n_ev)
    cum = np.cumsum(FLOW, axis=1)
    types = np.empty(n_ev, dtype=np.int64)
    first_set = set(first.tolist())
    prev = 0
    for i in range(n_ev):
        if i in first_set:
            prev = 0 if u[i] < 0.8 else 3
        else:
            prev = int(np.searchsorted(cum[prev], u[i], side="right"))
            if prev > 4:
                prev = 4
        types[i] = prev
    users = np.repeat(sess_user, n_act).astype(np.int64)
    order = rng.permutation(n_ev)       # file order must not carry the answer
    _write({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)[order]),
        "ts": pa.array(ts_us[order], type=pa.timestamp("us")),
        "user_id": pa.array(users[order]),
        "event_type": pa.array(EVENT_TYPES[types][order]),
        "value": pa.array(np.round(rng.random(n_ev) * 50, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }, os.path.join(out, "events.parquet"))

    # star schema: Zipf-hot parts on the fact side
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(regions)}, os.path.join(out, "region.parquet"))
    _write({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))},
           os.path.join(out, "nation.parquet"))
    _write({"s_suppkey": pa.array(np.arange(1, SUPPLIERS + 1, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, SUPPLIERS + 1)]),
            "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.random(SUPPLIERS) * 1e4, 2))},
           os.path.join(out, "supplier.parquet"))
    colors = np.array(["almond", "azure", "blush", "coral", "ivory", "khaki",
                       "linen", "olive", "plum", "sienna"])
    pc = rng.integers(0, 10, (PARTS, 2))
    _write({"p_partkey": pa.array(np.arange(1, PARTS + 1, dtype=np.int64)),
            "p_name": pa.array([f"{colors[a]} {colors[b]} part{i}"
                                for i, (a, b) in enumerate(pc, 1)]),
            "p_retailprice": pa.array(np.round(900 + rng.random(PARTS) * 1100, 2))},
           os.path.join(out, "part.parquet"))
    li_part = rng.choice(PARTS, n_lineitems, p=_zipf_probs(PARTS, 0.8)) + 1
    _write({"l_orderkey": pa.array(np.sort(rng.integers(1, n_lineitems // 4, n_lineitems))),
            "l_partkey": pa.array(li_part.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, SUPPLIERS + 1, n_lineitems)),
            "l_quantity": pa.array(rng.integers(1, 51, n_lineitems).astype(np.float64))},
           os.path.join(out, "lineitem.parquet"))

    # measured on the generated rows: sessions by the 1800 s gap rule
    o = np.lexsort((np.arange(n_ev), ts_us, users))
    su, st = users[o], ts_us[o] // 1_000_000
    new = np.r_[True, (su[1:] != su[:-1]) | (st[1:] - st[:-1] > SESSION_GAP_S)]
    n_sess = int(new.sum())
    per_user = np.bincount(users)
    part_hits = np.bincount(li_part)
    return {
        "events": {"aimed": None, "measured": n_ev},
        "events_per_session": {"aimed": 50.0, "measured": n_ev / n_sess},
        "top_user_event_share": {"aimed": float(_zipf_probs(CLICK_USERS, 1.0)[0]),
                                 "measured": per_user.max() / n_ev},
        "top_part_lineitem_share": {"aimed": float(_zipf_probs(PARTS, 0.8)[0]),
                                    "measured": part_hits.max() / n_lineitems},
        "lineitems": {"aimed": n_lineitems, "measured": len(li_part)},
    }


# ------------------------------------------------------------ corpus

STOPWORDS = ["the", "a", "and", "of", "to"]


def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < VOCAB:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def gen_corpus(seed, out, scale=1.0):
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    p = _zipf_probs(VOCAB, 1.05)
    n = int(CORPUS_DOCS * scale)
    lengths = np.clip(rng.lognormal(np.log(50), 0.5, n), 12, 400).astype(int)
    long_docs = rng.choice(n, max(1, n // 100), replace=False)  # 1% long docs
    lengths[long_docs] = rng.integers(600, 1200, len(long_docs))
    docs = [list(vocab[rng.choice(VOCAB, k, p=p)]) for k in lengths]
    # repeated verbatim spans (boilerplate) in 10% of docs
    spans = [list(vocab[rng.choice(VOCAB, 12, p=p)]) for _ in range(20)]
    for d in rng.choice(n, n // 10, replace=False):
        at = rng.integers(0, len(docs[d]))
        docs[d][at:at] = spans[rng.integers(0, len(spans))]
    eval_ids = np.arange(0, n, 20)
    train_ids = np.setdiff1d(np.arange(n), eval_ids)
    # eval overlap: 3% of train docs carry a 20-token span of an eval doc
    contam = rng.choice(train_ids, int(0.03 * n), replace=False)
    for d in contam:
        e = docs[rng.choice(eval_ids)]
        s = rng.integers(0, max(1, len(e) - 20))
        at = rng.integers(0, len(docs[d]))
        docs[d][at:at] = e[s:s + 20]
    # exact duplicates (5%) and near-duplicates (5%, ~4% tokens replaced)
    pool = rng.permutation(train_ids)
    n_dup = int(0.05 * n)
    dup_dst, near_dst = pool[:n_dup], pool[n_dup:2 * n_dup]
    src = pool[2 * n_dup:]
    dup_src = rng.choice(src, n_dup, replace=False)
    near_src = rng.choice(np.setdiff1d(src, dup_src), n_dup, replace=False)
    for d, s in zip(dup_dst, dup_src):
        docs[d] = list(docs[s])
    for d, s in zip(near_dst, near_src):
        t = list(docs[s])
        for i in rng.choice(len(t), max(1, len(t) // 25), replace=False):
            t[i] = vocab[rng.integers(0, VOCAB)]
        docs[d] = t
    texts = [" ".join(t) for t in docs]
    langs = np.array(["en", "es", "zh", "de", "fr"])
    _write({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.choice(5, n, p=[.6, .1, .1, .1, .1])]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 10, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))},
           os.path.join(out, "documents.parquet"))
    distinct = len(set(texts))
    return {
        "docs": {"aimed": n, "measured": n},
        "exact_dup_share": {"aimed": 0.05, "measured": (n - distinct) / n},
        "near_dup_share": {"aimed": 0.05, "measured": float(np.mean(
            [_jaccard3(docs[d], docs[s]) >= 0.5 for d, s in zip(near_dst, near_src)])) * 0.05},
        "eval_overlap_share": {"aimed": 0.03, "measured": len(contam) / n},
        "long_doc_share": {"aimed": 0.01, "measured": float(np.mean(lengths >= 600))},
        "mean_tokens": {"aimed": None, "measured": float(np.mean([len(t) for t in docs]))},
    }


def _jaccard3(a, b):
    sa = {" ".join(a[i:i + 3]) for i in range(len(a) - 2)}
    sb = {" ".join(b[i:i + 3]) for i in range(len(b) - 2)}
    return len(sa & sb) / max(1, len(sa | sb))


# ----------------------------------------------------------- ad clicks

def gen_adclick(seed, live_seconds):
    """Returns (backlog_lines, live_files, props, bots).

    live_files[k] holds the lines due at the end of period k of the live
    schedule. Line timestamps are the event time on a fixed clock
    (AD_BASE_MS + the due offset), so one seed always gives the same lines;
    a late line carries an event time minutes to hours before its due time.
    """
    rng = np.random.default_rng([seed, 3])
    n_backlog = AD_RATE * AD_BACKLOG_S
    per_file = AD_RATE * AD_PERIOD_MS // 1000
    n_files = live_seconds * 1000 // AD_PERIOD_MS
    n_live = per_file * n_files
    n = n_backlog + n_live
    # due offset (ms, relative to the end of the outage)
    due = np.empty(n, dtype=np.int64)
    due[:n_backlog] = -AD_BACKLOG_S * 1000 + np.arange(n_backlog) * 1000 // AD_RATE
    due[n_backlog:] = (np.arange(n_live) // per_file + 1) * AD_PERIOD_MS
    event_ms = AD_BASE_MS + due
    late = rng.random(n) < AD_LATE_SHARE
    late[:n_backlog] = False
    event_ms[late] -= rng.integers(10 * 60_000, 3 * 3_600_000, int(late.sum()))

    user_rank = rng.permutation(AD_USERS)
    users = user_rank[rng.choice(AD_USERS, n, p=_zipf_probs(AD_USERS, 1.0))]
    ad_p = _zipf_probs(AD_ADS, 0.8)
    ads = rng.choice(AD_ADS, n, p=ad_p)
    # ordinary users stay below the threshold on every ad: a pick that would
    # reach it moves to the next ad with room, or to another user
    counts = {}
    for i in range(n):
        u, a0 = int(users[i]), int(ads[i])
        a = a0
        while counts.get((u, a), 0) >= AD_THRESHOLD - 1:
            a = (a + 1) % AD_ADS
            if a == a0:
                u = int(user_rank[rng.integers(0, AD_USERS)])
        counts[(u, a)] = counts.get((u, a), 0) + 1
        users[i], ads[i] = u, a
    # bots: ids above the ordinary range; each clicks one ad 4-6 times and
    # crosses the threshold with a click due in the live phase
    bots = np.arange(AD_USERS, AD_USERS + AD_BOTS)
    bot_rows = []
    for b in bots:
        ad = int(rng.integers(0, AD_ADS))
        k = int(rng.integers(4, 7))
        cross = int(rng.integers(n_backlog + n_live // 10, n - n_live // 5))
        before = np.sort(rng.integers(0, cross, AD_THRESHOLD - 1))
        after = rng.integers(cross + 1, n, k - AD_THRESHOLD)
        for j in list(before) + [cross] + list(after):
            bot_rows.append((int(j), int(b), ad))
    prov = rng.integers(0, len(PROVINCES), n)
    lines = [None] * n
    for i in range(n):
        p, c = PROVINCES[prov[i]]
        lines[i] = f"{event_ms[i]} {p} {c} {users[i]} {ads[i]}"
    # bot clicks ride in the same slot as the ordinary event at index j
    extra = {}
    crossing = []
    for j, b, ad in bot_rows:
        p, c = PROVINCES[prov[j]]
        extra.setdefault(j, []).append(f"{event_ms[j]} {p} {c} {b} {ad}")
    for b in bots:
        rows = sorted(r for r in bot_rows if r[1] == b)
        crossing.append({"user": int(b), "slot": rows[AD_THRESHOLD - 1][0]})

    def slot_lines(i):
        return [lines[i]] + extra.get(i, [])

    backlog = [ln for i in range(n_backlog) for ln in slot_lines(i)]
    live = [[ln for i in range(n_backlog + k * per_file, n_backlog + (k + 1) * per_file)
             for ln in slot_lines(i)] for k in range(n_files)]
    for c in crossing:
        c["file"] = (c["slot"] - n_backlog) // per_file
    total = len(backlog) + sum(len(f) for f in live)

    # measured: who crosses the threshold over every generated line
    cnt = {}
    for f in [backlog] + live:
        for ln in f:
            _, _, _, u, a = ln.split(" ")
            cnt[(u, a)] = cnt.get((u, a), 0) + 1
    crossers = {u for (u, a), c in cnt.items() if c >= AD_THRESHOLD}
    per_user = np.bincount(users, minlength=AD_USERS)
    props = {
        "lines": {"aimed": None, "measured": total},
        "backlog_events": {"aimed": n_backlog, "measured": len(backlog)},
        "saturated_users": {"aimed": None, "measured": sum(
            1 for v in np.bincount(users, minlength=AD_USERS)
            if v >= AD_ADS * (AD_THRESHOLD - 1))},
        "live_rate_eps": {"aimed": AD_RATE,
                          "measured": (total - len(backlog)) / live_seconds},
        "bots_crossing": {"aimed": AD_BOTS, "measured": len(crossers)},
        "late_share": {"aimed": AD_LATE_SHARE, "measured": float(late[n_backlog:].mean())},
        "top_user_click_share": {"aimed": None, "measured": per_user.max() / n},
    }
    if crossers != {str(b) for b in bots}:
        props["bots_crossing"]["measured"] = -1
    return backlog, live, props, crossing


# ------------------------------------------------------------- checks

TOLERANCE = {
    "events_per_session": 0.10, "top_user_event_share": 0.35,
    "top_part_lineitem_share": 0.2, "lineitems": 0.0,
    "docs": 0.0, "exact_dup_share": 0.2, "near_dup_share": 0.2,
    "eval_overlap_share": 0.0, "long_doc_share": 0.0,
    "backlog_events": 0.05, "live_rate_eps": 0.1, "bots_crossing": 0.0,
    "late_share": 0.5,
}


def check_props(props):
    """Names of properties whose measured value misses its aim."""
    bad = []
    for k, v in props.items():
        if v["aimed"] is not None and not _close(v["measured"], v["aimed"], TOLERANCE[k]):
            bad.append(k)
    return bad


def write_props(props, path):
    with open(path, "w") as f:
        json.dump(props, f, indent=1, default=float)
