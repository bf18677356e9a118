"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (numpy PCG64 streams, pyarrow's parquet writer with
fixed options, sorted JSON keys). Outputs are cached per workload and seed
under the benchmark's work directory; `ensure` writes into a temporary
directory and renames it into place, so a cache entry is either complete or
absent.

Table layouts follow the TPC-H-ish `sf` schema the registry queries read
(`<dir>/<table>.parquet`, one file each).
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

# Input shapes of the registry workloads (all ten tables each).
SHAPES = {
    # Small tables keep each registry query in the fixed-cost regime the
    # workload targets (planning, rules, footers, per-job scheduling).
    "sql_mix": dict(sf=0.001, docs=500, embeddings=500, dup_share=0.0),
    # Curation reads the corpus; the relational tables are token-sized.
    "curation": dict(sf=0.001, docs=600, embeddings=400, dup_share=0.2),
}

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng_for(seed, stream):
    """An independent, reproducible generator per (seed, table)."""
    key = int.from_bytes(hashlib.sha256(f"{seed}/{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def write_parquet(table, path):
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", write_statistics=True,
                   use_dictionary=True, row_group_size=1 << 20)


def ts_us(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def words(r, n_docs, lo, hi):
    lens = r.integers(lo, hi, n_docs)
    idx = r.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for n in lens.tolist():
        out.append(" ".join(VOCAB[i] for i in idx[pos:pos + n]))
        pos += n
    return out


def near_duplicates(r, texts, share):
    """Rewrite `share` of the corpus as near-copies of earlier documents.

    Half of the copies are exact; the other half replace one word, so the
    copy stays above the 0.8 Jaccard thresholds the dedup operators use.
    Returns the texts and the number of rewritten documents."""
    n = len(texts)
    n_dup = int(round(n * share))
    if n_dup == 0 or n < 2:
        return texts, 0
    targets = np.sort(r.choice(np.arange(1, n), size=n_dup, replace=False))
    for k, t in enumerate(targets.tolist()):
        src = texts[int(r.integers(0, t))]
        if k % 2 == 1:
            toks = src.split(" ")
            toks[int(r.integers(0, len(toks)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            src = " ".join(toks)
        texts[t] = src
    return texts, n_dup


def documents_table(seed, n_docs, dup_share):
    r = rng_for(seed, "documents")
    texts = words(r, n_docs, 8, 90)
    texts, n_dup = near_duplicates(r, texts, dup_share)
    lang = r.choice(LANGS, size=n_docs, p=LANG_P)
    source = r.integers(0, 20, n_docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{s}" for s in source.tolist()]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), n_dup


def embeddings_table(seed, n):
    r = rng_for(seed, "embeddings")
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n).astype(np.int32)
    vec = centers[label] + r.normal(0, 0.6, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)),
        pa.array(vec.reshape(-1), type=pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb, "label": pa.array(label)})


def skewed_keys(r, n, n_keys, skew):
    """Keys in [0, n_keys): uniform for skew 0, else Zipf-like with exponent
    `skew` over a seeded permutation of the key space."""
    if skew <= 0:
        return r.integers(0, n_keys, n).astype(np.int64)
    w = 1.0 / np.arange(1, n_keys + 1) ** skew
    ranks = r.choice(n_keys, size=n, p=w / w.sum())
    return r.permutation(n_keys)[ranks].astype(np.int64)


def events_table(seed, n, n_users, skew, t0=EPOCH_2024, span_days=30):
    r = rng_for(seed, "events")
    gaps = r.exponential(1.0, n)
    ts = t0 + (np.cumsum(gaps) / gaps.sum() * (span_days * DAY_US - 1)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_us(ts),
        "user_id": pa.array(skewed_keys(r, n, n_users, skew)),
        "event_type": pa.array(r.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(r.exponential(50.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n).tolist()]),
    })


def write_tables(out, seed, sf, docs, embeddings, dup_share):
    """All ten registry tables at scale `sf`; returns the generator's facts."""
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_events = 4 * n_ord, max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)

    write_parquet(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    write_parquet(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")

    r = rng_for(seed, "customer")
    keys = np.arange(n_cust, dtype=np.int64)
    write_parquet(pa.table({
        "c_custkey": pa.array(keys), "c_name": names("Customer", keys),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust).tolist())}),
        f"{out}/customer.parquet")

    r = rng_for(seed, "supplier")
    keys = np.arange(n_supp, dtype=np.int64)
    write_parquet(pa.table({
        "s_suppkey": pa.array(keys), "s_name": names("Supplier", keys),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))}),
        f"{out}/supplier.parquet")

    r = rng_for(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    write_parquet(pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            r.integers(0, 8, n_part).tolist(), r.integers(0, 8, n_part).tolist())]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part).tolist()]),
        "p_type": pa.array(r.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))}),
        f"{out}/part.parquet")

    r = rng_for(seed, "orders")
    keys = np.arange(n_ord, dtype=np.int64)
    write_parquet(pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": ts_us(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord).tolist())}),
        f"{out}/orders.parquet")

    r = rng_for(seed, "lineitem")
    write_parquet(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 100_000.0, n_line), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": ts_us(EPOCH_1995 + r.integers(1, 2499, n_line) * DAY_US)}),
        f"{out}/lineitem.parquet")

    write_parquet(events_table(seed, n_events, n_users, skew=0.0),
                  f"{out}/events.parquet")
    docs_t, n_dup = documents_table(seed, docs, dup_share)
    write_parquet(docs_t, f"{out}/documents.parquet")
    write_parquet(embeddings_table(seed, embeddings), f"{out}/embeddings.parquet")
    return {"lineitem_rows": n_line, "orders_rows": n_ord, "events_rows": n_events,
            "documents_rows": docs, "near_duplicate_docs": n_dup,
            "embeddings_rows": embeddings}


# --- stream: a backlog split into many small files -------------------------

STREAM = dict(batches=6, events_per_batch=500, users=200, user_skew=1.1,
              documents=400, dup_share=0.25)


def write_stream(out, seed):
    """Event backlog (`events/batchNNN.parquet`, ordered by mtime) with Zipf
    user skew, plus a document corpus: the runners seed their index with
    `doc_id % 10 == 0` and drain the rest as the crawl."""
    s = STREAM
    os.makedirs(f"{out}/events")
    n = s["batches"] * s["events_per_batch"]
    ev = events_table(seed, n, s["users"], s["user_skew"], span_days=2)
    for b in range(s["batches"]):
        path = f"{out}/events/batch{b:03d}.parquet"
        write_parquet(ev.slice(b * s["events_per_batch"], s["events_per_batch"]), path)
        os.utime(path, (60 * (b + 1), 60 * (b + 1)))
    n_docs = s["documents"]
    docs, n_dup = documents_table(seed, n_docs, s["dup_share"])
    write_parquet(docs, f"{out}/documents.parquet")
    return {"event_batches": s["batches"], "events_rows": n, "users": s["users"],
            "user_skew": s["user_skew"], "documents_rows": n_docs,
            "near_duplicate_docs": n_dup}


# --- migrate: the Groove dump ----------------------------------------------

MIGRATE = dict(customers=400, tickets=200, messages_per_ticket=3,
               attachments=60, bad_share=0.05, dup_tickets=6,
               customers_per_page=50, tickets_per_page=10, messages_per_page=50,
               status_429_share=0.05)
STATES = ["unread", "opened", "pending", "closed", "spam"]
MAILBOXES = ["Support", "Sales", "Billing"]
AGENTS = ["agent0@corp.example", "agent1@corp.example", "agent2@corp.example"]
GROOVE = "https://api.groovehq.com/v1"


def write_pages(dirpath, records, per_page):
    os.makedirs(dirpath)
    pages = max(1, -(-len(records) // per_page))
    for p in range(pages):
        with open(f"{dirpath}/page-{p + 1}.json", "w") as f:
            for rec in records[p * per_page:(p + 1) * per_page]:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
    with open(f"{dirpath}/meta.json", "w") as f:
        json.dump({"pagination": {"total_count": len(records), "total_pages": pages,
                                  "per_page": per_page}}, f, sort_keys=True)


def write_migrate(out, seed):
    """Groove customers/tickets/messages/attachments as `meta.json` plus
    `page-N.json` per resource, the HelpScout-side dimensions, and the
    expected outcome (ok ids and injected bad-record counts)."""
    m = MIGRATE
    r = rng_for(seed, "groove")
    nc, nt = m["customers"], m["tickets"]
    bad_c = set(r.choice(nc, int(round(nc * m["bad_share"])), replace=False).tolist())
    customers = []
    for i in range(nc):
        email = "" if i in bad_c else f"user{i}@cust.example"
        if i % 7 == 3 and i not in bad_c:
            email += f"; alt{i}@cust.example"
        customers.append({
            "email": email, "name": f"First{i} Last{i}",
            "about": None if i % 3 else f"about customer {i}",
            "twitter_username": None, "linkedin_username": None,
            "title": "Engineer" if i % 2 else None,
            "company_name": f"Company {i % 37}", "phone_number": None,
            "location": "Toronto" if i % 5 == 0 else None, "website_url": None})

    n_bad_t = int(round(nt * m["bad_share"]))
    bad_t = r.choice(nt, 2 * n_bad_t, replace=False).tolist()
    unknown_state, bad_link = set(bad_t[:n_bad_t]), set(bad_t[n_bad_t:])
    good = [i for i in range(nt) if i not in unknown_state and i not in bad_link]
    dups = set(r.choice(good, m["dup_tickets"], replace=False).tolist())
    tickets, existing, expected_tickets = [], [], []
    day0 = np.datetime64("2016-01-04T00:00:00")
    for i in range(nt):
        number = 1000 + i
        created = day0 + np.timedelta64(int(i * 7 + r.integers(0, 5)) * 3600, "s")
        cust = int(r.integers(0, nc))
        href = (f"{GROOVE}/customers/0x{number:x}" if i in bad_link
                else f"{GROOVE}/customers/user{cust}@cust.example")
        tickets.append({
            "number": number,
            "state": "weird_state" if i in unknown_state else STATES[int(r.integers(0, 5))],
            "title": f"Ticket {number} about {VOCAB[int(r.integers(0, len(VOCAB)))]}",
            "summary": None, "tags": ["t%d" % (i % 4)] if i % 2 else [],
            "created_at": str(created) + "Z", "mailbox": MAILBOXES[i % 3],
            "customer_href": href,
            "assignee_href": f"{GROOVE}/agents/{AGENTS[i % 3]}" if i % 4 == 0 else None})
        if i in dups:
            existing.append({"subject": f"ticket {number} ABOUT " + tickets[-1]["title"].split(" about ")[1],
                             "modifiedAt": str(created) + "Z"})
        elif i not in unknown_state and i not in bad_link:
            expected_tickets.append(number)

    messages, attachments, attach_bytes = [], [], {}
    att_msgs = set(r.choice(nt * m["messages_per_ticket"], m["attachments"],
                            replace=False).tolist())
    for i in range(nt):
        number = 1000 + i
        created = np.datetime64(tickets[i]["created_at"][:-1])
        for k in range(m["messages_per_ticket"]):
            mid = i * m["messages_per_ticket"] + k
            agent = k % 2 == 1
            author = (f"{GROOVE}/agents/{AGENTS[i % 3]}" if agent
                      else tickets[i]["customer_href"])
            messages.append({
                "ticket_number": number,
                "body": f"<p>message {mid} {' '.join(VOCAB[j] for j in r.integers(0, len(VOCAB), 6).tolist())}</p>",
                "created_at": str(created + np.timedelta64(k * 300, "s")) + "Z",
                "note": False, "agent_response": agent,
                "href": f"{GROOVE}/messages/m{mid}", "author_href": author,
                "recipient_href": None,
                "attachments_href": (f"{GROOVE}/attachments?message=m{mid}"
                                     if mid in att_msgs else None)})
            if mid in att_msgs:
                name = f"file{mid}.bin"
                attach_bytes[name] = r.integers(0, 256, int(r.integers(64, 512)),
                                                dtype=np.uint8).tobytes()
                attachments.append({"message_id": f"m{mid}", "filename": name,
                                    "size": len(attach_bytes[name]), "url": name})

    write_pages(f"{out}/groove/customers", customers, m["customers_per_page"])
    write_pages(f"{out}/groove/tickets", tickets, m["tickets_per_page"])
    write_pages(f"{out}/groove/messages", messages, m["messages_per_page"])
    write_pages(f"{out}/groove/attachments", attachments, m["messages_per_page"])
    os.makedirs(f"{out}/files")
    for name, b in sorted(attach_bytes.items()):
        with open(f"{out}/files/{name}", "wb") as f:
            f.write(b)
    dims = {
        "grooveMailboxes": MAILBOXES, "grooveAgents": AGENTS,
        "hsMailboxes": [{"id": 11 + k, "name": mb.lower(), "email": f"{mb.lower()}@corp.example"}
                        for k, mb in enumerate(MAILBOXES)],
        "hsUsers": [{"id": 21 + k, "email": a.upper(), "firstName": f"Agent{k}",
                     "lastName": "Smith"} for k, a in enumerate(AGENTS)],
        "hsCustomers": [{"id": 5000 + i, "email": f"user{i}@cust.example"}
                        for i in range(nc) if i not in bad_c],
        "existingConversations": existing,
        "defaultMailboxEmail": "support@corp.example"}
    with open(f"{out}/dims.json", "w") as f:
        json.dump(dims, f, sort_keys=True)
    expected = {
        "customers_ok": sorted(c["email"] for i, c in enumerate(customers) if i not in bad_c),
        "customer_errors": len(bad_c),
        "tickets_ok": expected_tickets,
        "ticket_errors": len(unknown_state) + len(bad_link),
        "status_429_share": m["status_429_share"]}
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return {"customers": nc, "tickets": nt, "messages": len(messages),
            "attachments": len(attachments), "bad_records": len(bad_c) + 2 * n_bad_t,
            "duplicate_tickets": len(dups)}


def generate(workload, seed, out):
    os.makedirs(out)
    if workload in SHAPES:
        facts = write_tables(out, seed, **SHAPES[workload])
    elif workload == "stream":
        facts = write_stream(out, seed)
    elif workload == "migrate":
        facts = write_migrate(out, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/facts.json", "w") as f:
        json.dump(facts, f, sort_keys=True)
    return facts


# Registry inputs are verified against the DuckDB oracle once per input
# set, which costs about a pass of the workload; seeds therefore map onto a
# small pool of input sets for these workloads.
REGISTRY_POOL = 2


def input_key(workload, seed):
    """Cache key of the inputs `seed` selects for `workload`."""
    return f"{workload}-{seed % REGISTRY_POOL if workload in SHAPES else seed}"


def ensure(workload, seed, cache_dir):
    """The cached input directory for (workload, seed), generated on first use."""
    final = os.path.join(cache_dir, input_key(workload, seed))
    if os.path.exists(os.path.join(final, "facts.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    generate(workload, int(input_key(workload, seed).rsplit("-", 1)[1]), tmp)
    os.rename(tmp, final)
    return final


def tree_digest(path):
    """sha256 over every file's relative path and bytes (determinism checks)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
