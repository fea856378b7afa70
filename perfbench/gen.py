"""Seeded input generator for the three benchmark workloads.

For one workload and one seed it writes the engine's inputs (CSV files)
and a ground-truth record beside them: what was planted, and what a
correct engine must answer. The same seed always writes byte-identical
files; `python3 perfbench/gen.py --selfcheck` proves that, and that two
seeds differ.

    python3 perfbench/gen.py --workload ingest_cycles --seed 1 --out DIR

The engine never reads `truth.json`; the harness reads it to check the
engine's outputs.
"""

import argparse
import bisect
import csv
import datetime
import hashlib
import json
import os
import random
import shutil
import sys

WORKLOADS = ("ingest_cycles", "validate_load", "dedup_corpus")

# ---- sizes (one place; README.md quotes them) ------------------------

INGEST = dict(
    centers=6,
    hist_subjects=12000,     # registry subjects before the first batch
    alias_frac=0.2,          # subjects that also carry an alias identifier
    multi_ids=200,           # identifiers linked to two GSIDs
    hist_rows=30000,         # fragments table rows at setup (100x a batch)
    hist_batch=300,          # rows per historical batch
    part_batches=10,         # consecutive batches sharing one value of `p`
    batches=16,              # incoming batches generated (a run uses a prefix)
    # rows per 300-row batch by planted category. The categories are
    # the workload's specified ones; the proportions are assumptions
    # (README.md, "Where the ingest mix comes from"), and
    # `run.py --mixcheck` shows how much they move the gated metrics.
    mix=dict(new=162, twin=6, same_center=60, other_center=18,
             upper=15, multi=9, update=30),
    update_window=20,        # payload updates hit the latest 20 batches (Zipf)
    lookups=8,               # single-key lookups after every cycle
)

VALIDATE = dict(
    centers=6,
    rows=30000,              # raw CSV rows, duplicates included
    dup_frac=0.01,           # content-identical duplicate rows
    registered_frac=0.2,     # rows whose identifier is already registered
    other_center_frac=0.1,   # ...of those, presented from another center
    multi_frac=0.02,         # ...of those, hitting a multi-GSID identifier
    upper_frac=0.05,         # ...of those, presented upper-cased
    shared_new_frac=0.02,    # new rows re-using an earlier new identifier
    registry_subjects=20000,
    alias_frac=0.2,
    multi_ids=300,
    current_frac=0.7,        # registered rows already in the current table
    changed_frac=0.5,        # ...of those, with a changed payload
    orphans=2000,            # current rows the fragment does not touch
)

DEDUP = dict(
    docs=3000,               # random base documents
    vocab=20000,
    zipf_s=1.1,
    min_len=40,
    max_len=80,
    exact_frac=0.03,         # base docs that get an exact copy in the corpus
    near_frac=0.03,          # base docs that get a one-token near-duplicate
    hub_members=200,         # docs derived from one hub template
    shards=16,               # incremental shards generated (a run uses a prefix)
    shard_docs=200,
    shard_exact=10,          # exact copies of plain base docs per shard
    shard_near=6,           # one-token near-duplicates of plain base docs
    shard_internal=2,        # exact-copy pairs inside one shard
    n=3, threshold=0.8, num_hashes=64, bands=16, max_bucket=256,
)

ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"
FRAG_HEADER = ["frag_id", "center_id", "local_subject_id", "identifier_type",
               "sample_id", "value", "p"]


def gsid_new(nid):
    """The engine's deterministic mint: GSID- + md5('NEW:' + lower id)."""
    return "GSID-" + hashlib.md5(("NEW:" + nid).encode()).hexdigest()[:16].upper()


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


def zipf_index(rng, n, s=1.1):
    """Index in [0, n) with P(i) roughly proportional to 1/(i+1)^s."""
    a = 1.0 - s
    x = (1.0 + rng.random() * ((n + 1) ** a - 1.0)) ** (1.0 / a)
    return min(n - 1, max(0, int(x) - 1))


class Registry:
    """Identity registry model: subjects plus links keyed like the
    engine's local_subject_ids merge, (local_subject_id, identifier_type)."""

    def __init__(self, rng, centers, prefix):
        self.rng, self.centers, self.prefix = rng, centers, prefix
        self.seen = set()
        self.subjects = []           # (gsid, center, created_at)
        self.created = {}            # gsid -> created_at
        self.links = {}              # (lsid, type) -> (center, gsid)
        self.by_nid = {}             # lower(lsid) -> {(lsid, type)}
        self.plain = []              # single-GSID identifiers (lsid, type)
        self.multi = []              # identifiers linked to two GSIDs

    def fresh_id(self):
        while True:
            s = "%s%09x" % (self.prefix, self.rng.getrandbits(36))
            if s not in self.seen:
                self.seen.add(s)
                return s

    def link(self, lsid, typ, center, g):
        self.links[(lsid, typ)] = (center, g)
        self.by_nid.setdefault(lsid.lower(), set()).add((lsid, typ))

    def seed(self, n_subjects, alias_frac, n_multi):
        day0 = datetime.date(2015, 1, 1)
        for _ in range(n_subjects):
            g = "GSID-%016X" % self.rng.getrandbits(64)
            c = self.rng.choice(self.centers)
            d = (day0 + datetime.timedelta(days=self.rng.randrange(3000))).isoformat()
            self.subjects.append((g, c, d))
            self.created[g] = d
            lsid = self.fresh_id()
            self.link(lsid, "primary", c, g)
            self.plain.append((lsid, "primary"))
            if self.rng.random() < alias_frac:
                alias = self.fresh_id()
                self.link(alias, "alias", c, g)
                self.plain.append((alias, "alias"))
        # a multi-GSID identifier: subject A's primary id is also linked,
        # as an alias, to a different subject B
        taken = set()
        while len(self.multi) < n_multi:
            lsid, typ = self.plain[self.rng.randrange(len(self.plain))]
            if typ != "primary" or lsid in taken:
                continue
            ga = self.links[(lsid, typ)][1]
            gb = self.subjects[self.rng.randrange(len(self.subjects))][0]
            if gb == ga:
                continue
            taken.add(lsid)
            self.link(lsid, "alias", self.rng.choice(self.centers), gb)
            self.multi.append(lsid)
        self.plain = [p for p in self.plain if p[0] not in taken]

    def resolve(self, nid):
        """(gsid, matched GSIDs, matched link rows) for a lower-cased
        identifier: oldest (created_at, gsid) wins, 0 matches mints."""
        keys = self.by_nid.get(nid)
        if not keys:
            return gsid_new(nid), 0, []
        rows = [self.links[k] for k in keys]
        gs = {g for _, g in rows}
        return min(gs, key=lambda g: (self.created[g], g)), len(gs), rows

    def link_rows(self):
        return sorted((c, l, t, g) for (l, t), (c, g) in self.links.items())


# ---- ingest_cycles ---------------------------------------------------

def ingest_mix(new_frac=None):
    """Rows per batch by category. With `new_frac`, new identifiers are
    that share of the batch and the other categories are scaled to fill
    the rest, in their default proportions."""
    mix = INGEST["mix"]
    if new_frac is None:
        return mix
    total = sum(mix.values())
    rest = total - round(new_frac * total)
    out = {k: round(v * rest / (total - mix["new"])) for k, v in mix.items() if k != "new"}
    out["new"] = total - sum(out.values())
    return out


def gen_ingest(seed, out, new_frac=None):
    P = INGEST
    rng = random.Random("ingest_cycles:%d" % seed)
    centers = list(range(1, P["centers"] + 1))
    reg = Registry(rng, centers, "s")
    reg.seed(P["hist_subjects"], P["alias_frac"], P["multi_ids"])
    write_csv(os.path.join(out, "registry_subjects.csv"),
              ["global_subject_id", "center_id", "created_at"], reg.subjects)
    write_csv(os.path.join(out, "registry_local_ids.csv"),
              ["center_id", "local_subject_id", "identifier_type", "global_subject_id"],
              reg.link_rows())

    latest = {}                      # frag_id -> latest row
    keys_by_batch = {}               # batch index -> frag ids (history < 0)
    hist_batches = P["hist_rows"] // P["hist_batch"]
    seq = [0]

    def new_row(lsid, typ, center, part):
        fid = "F%09d" % seq[0]
        seq[0] += 1
        return [fid, center, lsid, typ, "S%09d" % seq[0], rng.randrange(1, 100000), part]

    history = []
    for hb in range(hist_batches):
        for _ in range(P["hist_batch"]):
            lsid, typ = reg.plain[rng.randrange(len(reg.plain))]
            row = new_row(lsid, typ, reg.links[(lsid, typ)][0], hb // P["part_batches"])
            history.append(row)
            latest[row[0]] = row
            keys_by_batch.setdefault(hb - hist_batches, []).append(row[0])
    write_csv(os.path.join(out, "history.csv"), FRAG_HEADER, history)

    known = list(reg.plain)          # re-presentable identifiers (lsid, type)
    n_subjects = len(reg.subjects)
    first_part = hist_batches // P["part_batches"]
    mix = ingest_mix(new_frac)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    batches = []
    for b in range(P["batches"]):
        part = first_part + b // P["part_batches"]
        as_of = (datetime.date(2024, 1, 1) + datetime.timedelta(days=b)).isoformat()
        older = sorted(keys_by_batch)            # batch indexes before this one

        def pick_older(window=None):
            n = len(older) if window is None else min(window, len(older))
            cand = keys_by_batch[older[len(older) - 1 - zipf_index(rng, n)]]
            return cand[rng.randrange(len(cand))]

        rows = []                                # (row, planted category)
        for _ in range(mix["new"]):
            rows.append((new_row(reg.fresh_id(), "primary", rng.choice(centers), part), "new"))
        news = [r for r, _ in rows]
        for _ in range(mix["twin"]):             # same new id, upper-cased, other center
            base = news[rng.randrange(len(news))]
            other = rng.choice([c for c in centers if c != base[1]])
            rows.append((new_row(base[2].upper(), "primary", other, part), "twin"))
        for _ in range(mix["same_center"]):
            lsid, typ = known[rng.randrange(len(known))]
            rows.append((new_row(lsid, typ, reg.links[(lsid, typ)][0], part), "same_center"))
        for _ in range(mix["other_center"]):
            lsid, typ = known[rng.randrange(len(known))]
            cur = reg.links[(lsid, typ)][0]
            other = rng.choice([c for c in centers if c != cur])
            rows.append((new_row(lsid, typ, other, part), "other_center"))
        for _ in range(mix["upper"]):
            lsid, typ = known[rng.randrange(len(known))]
            rows.append((new_row(lsid.upper(), "primary", reg.links[(lsid, typ)][0], part),
                         "upper"))
        for _ in range(mix["multi"]):
            m = reg.multi[rng.randrange(len(reg.multi))]
            rows.append((new_row(m, "primary", rng.choice(centers), part), "multi"))
        picked = set()
        while len(picked) < mix["update"]:       # payload updates to recent batches
            fid = pick_older(P["update_window"])
            if fid in picked:
                continue
            picked.add(fid)
            row = list(latest[fid])
            row[5] += 1
            rows.append((row, "update"))

        # expected resolution against the registry BEFORE this batch
        expect, minted = [], set()
        actions = {"create_new": 0, "link_existing": 0, "conflict_resolved": 0}
        for row, _ in rows:
            g, n, _ = reg.resolve(row[2].lower())
            act = "create_new" if n == 0 else "link_existing" if n == 1 else "conflict_resolved"
            actions[act] += 1
            if n == 0:
                minted.add(g)
            expect.append([row[0], g, act])
        for (row, cat), (_, g, act) in zip(rows, expect):
            if act == "create_new":
                reg.created.setdefault(g, as_of)
            reg.link(row[2], row[3], row[1], g)
            latest[row[0]] = row
            if cat != "update":
                keys_by_batch.setdefault(b, []).append(row[0])
            if cat == "new":
                known.append((row[2], row[3]))
        n_subjects += len(minted)

        lookups = []                              # half this batch, half Zipf by age
        this_batch = [r[0] for r, _ in rows]
        for i in range(P["lookups"]):
            fid = this_batch[rng.randrange(len(this_batch))] if i % 2 == 0 else pick_older()
            lookups.append(list(latest[fid]))

        write_csv(os.path.join(out, "batches", "batch-%04d.csv" % b), FRAG_HEADER,
                  [r for r, _ in rows])
        planted = {}
        for _, cat in rows:
            planted[cat] = planted.get(cat, 0) + 1
        batches.append(dict(batch=b, as_of=as_of, rows=len(rows),
                            subjects_after=n_subjects, actions=actions,
                            planted=planted, expect=expect, lookups=lookups))
    return dict(workload="ingest_cycles", seed=seed, params=P, mix=mix,
                registry_subjects=len(reg.subjects), history_rows=len(history),
                batches=batches)


# ---- validate_load ---------------------------------------------------

def gen_validate(seed, out):
    P = VALIDATE
    rng = random.Random("validate_load:%d" % seed)
    centers = list(range(1, P["centers"] + 1))
    reg = Registry(rng, centers, "v")
    reg.seed(P["registry_subjects"], P["alias_frac"], P["multi_ids"])
    write_csv(os.path.join(out, "registry_subjects.csv"),
              ["global_subject_id", "center_id", "created_at"], reg.subjects)
    write_csv(os.path.join(out, "registry_local_ids.csv"),
              ["center_id", "local_subject_id", "identifier_type", "global_subject_id"],
              reg.link_rows())

    tissues = ["blood", "stool", "biopsy", "serum", "plasma", "saliva"]
    n_dups = int(P["rows"] * P["dup_frac"])
    distinct = []                    # [sample, subject_ref, center, tissue, volume, collected]
    planted = dict(registered=0, other_center=0, multi=0, upper=0, new=0, shared_new=0)
    new_ids = []
    for i in range(P["rows"] - n_dups):
        u = rng.random()
        if u < P["registered_frac"]:
            v = rng.random()
            if v < P["multi_frac"]:
                ref = reg.multi[rng.randrange(len(reg.multi))]
                center = rng.choice(centers)
                planted["multi"] += 1
            else:
                lsid, typ = reg.plain[rng.randrange(len(reg.plain))]
                center = reg.links[(lsid, typ)][0]
                ref = lsid
                if v < P["multi_frac"] + P["other_center_frac"]:
                    center = rng.choice([c for c in centers if c != center])
                    planted["other_center"] += 1
                elif v < P["multi_frac"] + P["other_center_frac"] + P["upper_frac"]:
                    ref = lsid.upper()
                    planted["upper"] += 1
            planted["registered"] += 1
        elif new_ids and rng.random() < P["shared_new_frac"]:
            ref = new_ids[rng.randrange(len(new_ids))]
            center = rng.choice(centers)
            planted["shared_new"] += 1
        else:
            ref = reg.fresh_id()
            new_ids.append(ref)
            center = rng.choice(centers)
            planted["new"] += 1
        distinct.append(["SMP%08d" % i, ref, center, rng.choice(tissues),
                         "%d.%d" % (rng.randrange(1, 500), rng.randrange(10)),
                         (datetime.date(2023, 1, 1) +
                          datetime.timedelta(days=rng.randrange(600))).isoformat()])
    rows = distinct + [list(distinct[rng.randrange(len(distinct))]) for _ in range(n_dups)]
    rng.shuffle(rows)
    write_csv(os.path.join(out, "raw.csv"),
              ["sample", "subject_ref", "center", "tissue", "volume", "collected"], rows)

    # expected report: per input row, resolved against the static registry
    counts = dict(new=0, existing=0, multi=0, center=0)
    gsids, link_set = set(), set()
    gsid_of = {}
    for r in rows:
        g, n, matched = reg.resolve(r[1].lower())
        gsid_of[r[0]] = g
        gsids.add(g)
        link_set.add((r[2], r[1], "primary", g))
        if n == 0:
            counts["new"] += 1
        elif n == 1:
            counts["existing"] += 1
            if any(c != r[2] for c, _ in matched):
                counts["center"] += 1
        else:
            counts["multi"] += 1
    conflicts = {}
    for (c, lsid, typ, g) in link_set:
        ex = reg.links.get((lsid, typ))
        if ex is None:
            continue
        kind = "center_mismatch" if ex[0] != c else "multi_gsid" if ex[1] != g else None
        if kind:
            conflicts[kind] = conflicts.get(kind, 0) + 1

    # current table: some registered rows, as-is or with a changed volume
    current, state = [], {}
    for r in distinct:
        n = reg.resolve(r[1].lower())[1]
        if n == 0 or rng.random() >= P["current_frac"]:
            continue
        vol = r[4]
        if rng.random() < P["changed_frac"]:
            vol = "%d.%d" % (int(r[4].split(".")[0]) + 1, rng.randrange(10))
            state[r[0]] = "update"
        else:
            state[r[0]] = "unchanged"
        current.append([gsid_of[r[0]], r[0], r[3], vol, r[5]])
    for i in range(P["orphans"]):
        g = reg.subjects[rng.randrange(len(reg.subjects))][0]
        current.append([g, "ORPH%07d" % i, rng.choice(tissues),
                        "%d.%d" % (rng.randrange(1, 500), rng.randrange(10)), "2022-06-01"])
    write_csv(os.path.join(out, "current.csv"),
              ["global_subject_id", "sample_id", "tissue_type", "volume_ml",
               "collection_date"], current)
    load = dict(inserted=0, updated=0, unchanged=0, orphaned=P["orphans"])
    for r in rows:
        s = state.get(r[0], "insert")
        load[{"insert": "inserted", "update": "updated"}.get(s, s)] += 1
    return dict(workload="validate_load", seed=seed, params=P, rows=len(rows),
                duplicates=n_dups, planted=planted,
                report=dict(row_count=len(rows), gsid_total_rows=len(rows),
                            gsid_resolved=len(rows), gsid_unresolved=0,
                            gsid_unique=len(gsids), gsid_new_subjects=counts["new"],
                            gsid_existing_subjects=counts["existing"],
                            gsid_multi_conflicts=counts["multi"],
                            gsid_center_conflicts=counts["center"],
                            local_id_records_count=len(link_set),
                            conflicts=dict(sorted(conflicts.items()))),
                load=load, current_rows=len(current))


# ---- dedup_corpus ----------------------------------------------------

def gen_dedup(seed, out):
    P = DEDUP
    rng = random.Random("dedup_corpus:%d" % seed)
    vocab, seen = [], set()
    while len(vocab) < P["vocab"]:
        w = "".join(rng.choice(ALNUM[:26]) for _ in range(rng.randrange(3, 9)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    cum, acc = [], 0.0
    for i in range(len(vocab)):
        acc += 1.0 / (i + 1) ** P["zipf_s"]
        cum.append(acc)

    def word():
        return vocab[min(len(vocab) - 1, bisect.bisect_left(cum, rng.random() * acc))]

    def doc():
        return [word() for _ in range(rng.randrange(P["min_len"], P["max_len"] + 1))]

    def near(tokens):
        t = list(tokens)
        i = rng.randrange(len(t))
        w = word()
        while w == t[i]:
            w = word()
        t[i] = w
        return t

    next_id = [1]

    def new_id():
        i = next_id[0]
        next_id[0] += 1
        return i

    docs = {}                        # id -> tokens
    plain = []                       # base docs with no planted relative
    exact_pairs, near_pairs = [], []
    base = []
    for _ in range(P["docs"]):
        i = new_id()
        docs[i] = doc()
        base.append(i)
    related = set()
    for i in base:
        u = rng.random()
        if u < P["exact_frac"]:
            j = new_id()
            docs[j] = list(docs[i])
            exact_pairs.append([i, j])
            related.update((i, j))
        elif u < P["exact_frac"] + P["near_frac"]:
            j = new_id()
            docs[j] = near(docs[i])
            near_pairs.append([i, j])
            related.update((i, j))
    template = [word() for _ in range(60)]
    hub = []
    for _ in range(P["hub_members"]):
        j = new_id()
        docs[j] = near(template)
        hub.append(j)
    plain = [i for i in base if i not in related]
    corpus_ids = sorted(docs)
    order = list(corpus_ids)
    rng.shuffle(order)
    write_csv(os.path.join(out, "corpus.csv"), ["doc_id", "text"],
              [[i, " ".join(docs[i])] for i in order])

    os.makedirs(os.path.join(out, "shards"), exist_ok=True)
    shards = []
    for k in range(P["shards"]):
        rows, killed, fresh, internal = [], [], [], []
        for _ in range(P["shard_exact"]):
            src = plain[rng.randrange(len(plain))]
            j = new_id()
            rows.append([j, " ".join(docs[src])])
            killed.append(j)
        for _ in range(P["shard_near"]):
            src = plain[rng.randrange(len(plain))]
            rows.append([new_id(), " ".join(near(docs[src]))])
        for _ in range(P["shard_internal"]):
            a, b = new_id(), new_id()
            text = " ".join(doc())
            rows += [[a, text], [b, text]]
            internal.append([a, b])
            killed.append(b)
        while len(rows) < P["shard_docs"]:
            j = new_id()
            rows.append([j, " ".join(doc())])
            fresh.append(j)
        rng.shuffle(rows)
        write_csv(os.path.join(out, "shards", "shard-%04d.csv" % k), ["doc_id", "text"], rows)
        shards.append(dict(shard=k, docs=len(rows), must_die=sorted(killed),
                           must_survive=sorted(fresh), internal_pairs=internal))
    return dict(workload="dedup_corpus", seed=seed, params=P, docs=len(corpus_ids),
                exact_pairs=exact_pairs, near_pairs=near_pairs, hub=hub,
                related=sorted(related | set(hub)), shards=shards)


GENERATORS = {"ingest_cycles": gen_ingest, "validate_load": gen_validate,
              "dedup_corpus": gen_dedup}


def generate(workload, seed, out, new_frac=None):
    """(Re)write the inputs and `truth.json` for one workload and seed.
    `new_frac` varies the ingest_cycles mix (`ingest_mix`)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    opts = {} if new_frac is None else {"new_frac": new_frac}
    truth = GENERATORS[workload](seed, out, **opts)
    write_json(os.path.join(out, "truth.json"), truth)
    return truth


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def selfcheck(scratch):
    """One seed regenerates byte-identical inputs; two seeds differ."""
    ok = True
    for w in WORKLOADS:
        a, b, c = (os.path.join(scratch, w, x) for x in ("a", "b", "c"))
        generate(w, 7, a)
        generate(w, 7, b)
        generate(w, 8, c)
        same, diff = digest(a) == digest(b), digest(a) != digest(c)
        print("%-14s same-seed identical: %s  other-seed differs: %s" % (w, same, diff))
        ok = ok and same and diff
    shutil.rmtree(scratch)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--selfcheck", action="store_true",
                    help="check determinism under .bench_build/gen_selfcheck")
    a = ap.parse_args()
    if a.selfcheck:
        sys.exit(0 if selfcheck(os.path.join(".bench_build", "gen_selfcheck")) else 1)
    if not (a.workload and a.seed is not None and a.out):
        ap.error("--workload, --seed and --out are required")
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
