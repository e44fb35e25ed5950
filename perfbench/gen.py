"""Seeded input generators for the graft benchmark.

Everything the timed program sees is written here, before any timing
starts: the analytics tables for `query_sweep` and the preload + op
script for the agent loop. The same seed always gives the same
files.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# query_sweep: TPC-H-like star schema + events + documents + embeddings,
# with the column domains of the graft test corpus.

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "blue cold hot red small large green shiny".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def gen_tables(seed, out, sf):
    """Write the ten sweep tables for scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_line = max(6000, int(6000000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2500)}),
        f"{out}/lineitem.parquet")
    # Distinct microsecond instants over 30 days, ordered by event_id.
    ts_us = np.sort(rng.choice(30 * 86400 * 10**6, n_ev, replace=False))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Agent loops: a preload file and an op script, both tab-separated.
#
# preload.tsv rows (ages are minutes before the loop's start clock):
#   O agent taskType desc success strategy durationMs error ageMin
#   H agent condition strategy confidence occurrences successes ageMin
#   K agent domain fact source confidence ageMin
#   A agent pattern whyBad occurrences ageMin
#   P user category preference source confidence ageMin
#   F outcomeIndex signal ageMin
# ops.tsv rows:
#   R agent query check          retrieve (check=1: verify against brute force)
#   L agent taskType desc success strategy durationMs error    learn
#   F agent outcomeIndex signal  recordFeedback on a preloaded outcome
#   U agent idx,idx,.. idx,..    recordUsage: retrieved / used preloaded outcomes
#   M quota                      maintain, with this outcome quota per agent

TASK_TYPES = ["testing", "api_testing", "form_testing", "database_validation", "general"]
TASK_WORDS = ("login checkout search profile payment cart signup upload report "
              "export import invoice order refund session token cache index "
              "migration schema endpoint webhook queue retry timeout locale "
              "dashboard filter sort pagination modal form field button "
              "validation email password reset audit permission role tenant").split()
STRATEGY_WORDS = ("incremental parallel isolated mocked seeded snapshot "
                  "contract fuzz property boundary regression smoke "
                  "end-to-end unit staged canary replay").split()
ERRORS = ["timeout waiting for element", "assertion mismatch on total",
          "connection reset by peer", "stale element reference",
          "schema validation failed", "rate limit exceeded",
          "null pointer in handler", "deadlock detected"]
SIGNALS = ["used", "ignored", "thumbs_up", "thumbs_down"]
DOMAINS = ["auth", "billing", "search", "storage", "ui", "infra"]

AGENTS = [f"agent{i}" for i in range(8)]

SIZE = dict(outcomes=6000, heuristics=200, knowledge=200, anti=40, prefs=24,
            feedback=250, old_share=0.05)
TINY = dict(outcomes=300, heuristics=40, knowledge=40, anti=10, prefs=6,
            feedback=40, old_share=0.1)
# maintain's outcome quota per agent: above the per-agent preload, so
# maintenance archives nothing and the store keeps its size.
QUOTA = 5000


class _Agent:
    def __init__(self, rng):
        self.rng = rng
        # A bounded task vocabulary: agents repeat tasks, so the
        # descriptions draw from a few hundred phrasings per task type.
        self.phrases = {tt: [" ".join(rng.sample(TASK_WORDS, 5)) for _ in range(60)]
                        for tt in TASK_TYPES}
        self.strategies = {tt: [" ".join(rng.sample(STRATEGY_WORDS, 3)) for _ in range(12)]
                           for tt in TASK_TYPES}
        self.fail_seq = 0

    def desc(self, tt, skew=1.1):
        ph = self.phrases[tt]
        i = min(int(self.rng.paretovariate(skew)) - 1, len(ph) - 1)
        return f"{tt} {ph[i]}"

    def outcome(self, agent, tt, unique_tag, success=None):
        if success is None:
            success = self.rng.random() < 0.75
        if success:
            strategy = self.rng.choice(self.strategies[tt])
            err = ""
        else:
            # Failed attempts use a one-off strategy name: anti-pattern
            # promotion may then ban it, and no later learn reuses it, so
            # the learn write guard never rejects a scripted op.
            strategy = f"ad-hoc attempt {unique_tag}"
            err = self.rng.choice(ERRORS)
        return [agent, tt, self.desc(tt), "1" if success else "0", strategy,
                str(self.rng.randint(50, 5000)), err]


def _clean(s):
    return s.replace("\t", " ").replace("\n", " ")


def gen_agent(seed, out, tiny=False):
    """Write preload.tsv and ops.tsv for the agent loop into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed * 7919 + 1)
    size = TINY if tiny else SIZE
    gen = _Agent(rng)
    pre = []
    n_out = size["outcomes"]
    for i in range(n_out):
        agent = AGENTS[i % len(AGENTS)]
        tt = rng.choice(TASK_TYPES)
        row = gen.outcome(agent, tt, f"p{i}")
        old = rng.random() < size["old_share"]
        age = rng.randint(91 * 1440, 120 * 1440) if old else rng.randint(60, 60 * 1440)
        pre.append(["O"] + row + [str(age)])
    for i in range(size["heuristics"]):
        agent = AGENTS[i % len(AGENTS)]
        tt = rng.choice(TASK_TYPES)
        occ = rng.randint(3, 40)
        succ = rng.randint(0, occ)
        pre.append(["H", agent, tt, rng.choice(gen.strategies[tt]),
                    repr(round(succ / occ, 4)), str(occ), str(succ),
                    str(rng.randint(60, 60 * 1440))])
    for i in range(size["knowledge"]):
        agent = AGENTS[i % len(AGENTS)]
        dom = rng.choice(DOMAINS)
        fact = f"{dom} " + " ".join(rng.sample(TASK_WORDS, 6))
        pre.append(["K", agent, dom, fact, "docs",
                    repr(round(rng.uniform(0.4, 1.0), 4)), str(rng.randint(60, 60 * 1440))])
    for i in range(size["anti"]):
        agent = AGENTS[i % len(AGENTS)]
        pre.append(["A", agent, f"legacy pattern {i}", rng.choice(ERRORS),
                    str(rng.randint(2, 12)), str(rng.randint(60, 60 * 1440))])
    for i in range(size["prefs"]):
        pre.append(["P", f"user{i % 4}", rng.choice(["communication", "code_style", "workflow"]),
                    "prefer " + " ".join(rng.sample(TASK_WORDS, 3)), "explicit_instruction",
                    "1.0", str(rng.randint(60, 60 * 1440))])
    recent = [i for i in range(n_out) if int(pre[i][-1]) < 90 * 1440]
    for _ in range(size["feedback"]):
        pre.append(["F", str(rng.choice(recent)), rng.choice(SIGNALS),
                    str(rng.randint(1, 600))])

    # The op script is a run of identical blocks, so every seed runs the
    # same op mix and a run measures whole blocks; the seed varies the
    # texts. A block of 6 ops:
    #   learn, retrieve q1, retrieve q1 (cache hit), feedback or usage,
    #   retrieve q2, maintain
    # Writes invalidate the retrieval cache and advance the clock, so
    # exactly 1 of the 3 retrieves hits the cache, and the median
    # retrieve is a miss. The shape of every block is fixed: which agent
    # learns, reads and writes, the learn's task type, and whether it
    # succeeds (a failure also runs anti-pattern promotion) depend only on
    # the block number, and no query text repeats, so each miss compiles
    # its own plan. The seed never changes how much work a block does.
    ops = []
    n_retr = [0]
    seen = set()

    def retrieve(agent, query):
        n_retr[0] += 1
        # One checked retrieve per block: the cache hit in even blocks,
        # the last miss in odd ones.
        return ["R", agent, query, "1" if n_retr[0] % 6 in (0, 2) else "0"]

    def query(tt):
        q = gen.desc(tt, skew=0.8)
        while q in seen:
            q = f"{q} {rng.choice(TASK_WORDS)}"
        seen.add(q)
        return q

    for b in range(60 if tiny else 400):
        n = len(AGENTS)
        learner, reader, writer = AGENTS[b % n], AGENTS[(b + 3) % n], AGENTS[(b + 5) % n]
        tt = TASK_TYPES[b % len(TASK_TYPES)]
        ops.append(["L"] + gen.outcome(learner, tt, f"s{seed}-{b}", success=b % 2 == 0))
        q1 = query(tt)
        ops += [retrieve(reader, q1), retrieve(reader, q1)]
        if b % 2 == 0:
            ops.append(["F", writer, str(rng.choice(recent)), rng.choice(SIGNALS)])
        else:
            got = rng.sample(recent, 5)
            ops.append(["U", writer, ",".join(map(str, got)), ",".join(map(str, got[:2]))])
        ops.append(retrieve(learner, query(TASK_TYPES[(b + 2) % len(TASK_TYPES)])))
        ops.append(["M", str(QUOTA)])

    with open(f"{out}/preload.tsv", "w", encoding="utf-8") as f:
        for r in pre:
            f.write("\t".join(_clean(x) for x in r) + "\n")
    with open(f"{out}/ops.tsv", "w", encoding="utf-8") as f:
        for r in ops:
            f.write("\t".join(_clean(x) for x in r) + "\n")
