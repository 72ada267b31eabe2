"""Seeded firehose traffic for the pipeline benchmark.

`generate(workload, seed, run_dir, size)` writes gzipped JSONL batches
(the only thing the engine receives), a `manifest.json` telling the
JVM driver which batches to ingest and when to groom, train and score,
and a `truth.json` with the planted ground truth the outputs are
checked against. The same (workload, seed, size) gives byte-identical
files: every random draw comes from `random.Random` instances seeded
from the arguments, and gzip headers carry no name or mtime.

The *world* (item catalog, planted reward function, holdout contexts)
is fixed by WORLD_SEED and does not vary with --seed: the seed varies
the traffic, not the task, so quality metrics compare like with like.
"""

import gzip
import json
import math
import os
import random

KSUID_EPOCH = 1_400_000_000
BASE62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
# 2023-11-14T13:00:00Z, hour-aligned so store chunks line up with it
T0 = 1_699_966_800
WORLD_SEED = 20231114

OS = ["ios", "android", "web"]
COUNTRIES = ["us", "ca", "mx", "br", "gb", "de", "fr", "es", "in", "jp", "kr", "au"]
REGION = {c: i // 3 for i, c in enumerate(COUNTRIES)}  # 4 regions
CATEGORIES = ["shoes", "bags", "hats", "coats", "shirts", "watches"]
COLORS = ["red", "blue", "black", "white", "green"]
INTERESTS = ["sport", "travel", "office", "outdoor", "luxury", "basics"]
DEVICES = ["dev-%02d" % i for i in range(30)]
SECOND_REWARD_P = 0.25  # P(second, 0.5-valued reward | first reward)

# invalid-line kinds, keyed by the census reason the parser reports
INVALID_REASONS = [
    ("invalid json", 3),
    ("not a json object", 1),
    ("missing message_id", 2),
    ("invalid message_id", 2),
    ("invalid model", 2),
    ("invalid count", 1),
    ("invalid count of 1 with sample", 1),
    ("missing decision_id", 1),
    ("invalid reward", 2),
]

# Workload shapes. `tiny` is the smoke size the self-check uses.
SIZES = {
    "trickle": {
        "full": dict(decisions_per_batch=2500, files_per_batch=2),
        "tiny": dict(decisions_per_batch=100, files_per_batch=2),
    },
    "train_cycle": {
        "full": dict(decisions=10000, window_s=7200, late_batches=2,
                     bulk_files=4, files_per_batch=1),
        "tiny": dict(decisions=1200, window_s=7200, late_batches=2,
                     bulk_files=2, files_per_batch=1),
    },
}

# the trickle stream: the models each batch carries, with their shares of
# it; m-home has half the traffic, m-promo a twelfth
TRICKLE_MODELS = ["m-home", "m-cart", "m-search", "m-promo"]
TRICKLE_BATCHES = [{"m-home": 1}, {"m-cart": 1}, {"m-home": 1}, {"m-search": 2, "m-promo": 1}]
BULK_MODEL = "m-bulk"

# Fixed training configuration per workload (graft.train.Trainer.TrainConfig
# fields). Tree counts are sized so a run fits the benchmark's time budget:
# every tree level is one Spark job, so trees cost jobs, not rows.
TRAIN_CONFIG = {
    ("trickle", "full"): dict(treeDepth=4, propensityTrees=1, maxTrees=2, maxFeatures=300, seed=42),
    ("train_cycle", "full"): dict(treeDepth=6, propensityTrees=1, maxTrees=1, maxFeatures=300, seed=42),
}
TINY_TRAIN_CONFIG = dict(treeDepth=2, propensityTrees=1, maxTrees=1, maxFeatures=300, seed=42)
# (holdout contexts, candidates each, contexts ranked one call at a time)
HOLDOUT = {"full": (400, 8, 4), "tiny": (20, 4, 2)}


def ksuid(ts, rng):
    n = ((ts - KSUID_EPOCH) << 128) | rng.getrandbits(128)
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(BASE62[r])
    return "".join(reversed(out)).rjust(27, "0")


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"))


class World:
    """Catalog, planted reward function and holdout — fixed by WORLD_SEED."""

    def __init__(self):
        rng = random.Random(WORLD_SEED)
        self.items = []
        for i in range(48):
            cat = CATEGORIES[i % len(CATEGORIES)]
            self.items.append({
                "sku": "sku-%02d" % i,
                "category": cat,
                "price": round(rng.uniform(5, 120), 2),
                "attrs": {"color": rng.choice(COLORS), "size": rng.randint(1, 5)},
                "tags": sorted(rng.sample(INTERESTS, rng.randint(1, 2))),
            })
        self.item_json = [dumps(it) for it in self.items]
        self.a = {(c, o): rng.uniform(-0.5, 0.5) for c in CATEGORIES for o in OS}
        self.b = {(c, r): rng.uniform(-0.4, 0.4) for c in CATEGORIES for r in range(4)}
        self.c = {c: rng.uniform(-0.3, 0.3) for c in CATEGORIES}
        # a strong item main effect: even a shallow tree learns a ranking
        # from it, so the policy's quality does not swing with the seed
        self.base = {c: rng.uniform(-2.0, 2.0) for c in CATEGORIES}

    def context(self, rng, ts):
        return {
            "device": {"os": rng.choice(OS), "model": rng.choice(DEVICES),
                       "version": round(rng.uniform(10, 17), 1)},
            "geo": {"country": rng.choice(COUNTRIES)},
            "user": {"visits": rng.randint(0, 40), "spend": round(rng.uniform(0, 100), 2),
                     "interests": sorted(rng.sample(INTERESTS, rng.randint(0, 3)))},
            "hour": (ts // 3600) % 24,
        }

    def p_reward(self, ctx, item):
        cat = item["category"]
        logit = (-1.6 + self.base[cat] + self.a[(cat, ctx["device"]["os"])]
                 + self.b[(cat, REGION[ctx["geo"]["country"]])]
                 + self.c[cat] * (ctx["user"]["visits"] - 20) / 20.0
                 + (0.8 if set(item["tags"]) & set(ctx["user"]["interests"]) else 0.0)
                 + (-0.012 if ctx["user"]["spend"] < 40 else 0.004) * item["price"])
        return 1.0 / (1.0 + math.exp(-logit))

    def expected_reward(self, ctx, item):
        return self.p_reward(ctx, item) * (1.0 + 0.5 * SECOND_REWARD_P)

    def holdout(self, size):
        n_ctx, k, _ = HOLDOUT[size]
        rng = random.Random(WORLD_SEED + 1)
        out = []
        for _ in range(n_ctx):
            ctx = self.context(rng, T0 + rng.randrange(7200))
            idx = rng.sample(range(len(self.items)), k)
            out.append({"context": dumps(ctx), "items": idx,
                        "values": [self.expected_reward(ctx, self.items[i]) for i in idx]})
        return out


class Traffic:
    """Decision, reward, duplicate and invalid lines for one run."""

    def __init__(self, world, seed):
        self.world = world
        self.rng = random.Random(seed)
        self.batches = []  # per batch: its lines in delivery order
        self.truth_models = {}
        self.census = {}
        self.duplicates = 0
        self.late_rewards = 0

    def model_truth(self, model):
        return self.truth_models.setdefault(
            model, {"decisions": 0, "reward_sum": 0.0, "reward_events": 0})

    def decision(self, model, ts):
        """Returns (decision line, decision id, reward events [(value)])."""
        rng, world = self.rng, self.world
        ctx = world.context(rng, ts)
        count = rng.choices([1, 2, 3, 4, 6, 8], [2, 3, 3, 2, 1, 1])[0]
        cand = rng.sample(range(len(world.items)), count)
        # logging policy: mild preference for cheaper items
        weights = [math.exp(-0.01 * world.items[i]["price"]) for i in cand]
        chosen = rng.choices(cand, weights)[0]
        did = ksuid(ts, rng)
        rec = {"message_id": did, "model": model, "count": count,
               "item": world.items[chosen], "context": ctx}
        if count > 1:
            others = [i for i in cand if i != chosen]
            # ~1% track an explicit null sample (kept as "null", not absent)
            rec["sample"] = None if rng.random() < 0.01 else world.items[rng.choice(others)]
        t = self.model_truth(model)
        t["decisions"] += 1
        rewards = []
        if rng.random() < world.p_reward(ctx, world.items[chosen]):
            rewards.append(1.0)
            if rng.random() < SECOND_REWARD_P:
                rewards.append(0.5)
        return dumps(rec), did, rewards

    def reward_line(self, model, decision_id, value, ts):
        t = self.model_truth(model)
        t["reward_sum"] += value
        t["reward_events"] += 1
        return dumps({"message_id": ksuid(ts, self.rng), "model": model,
                      "decision_id": decision_id, "reward": value})

    def invalid_line(self, reason, ts):
        rng = self.rng
        good_id = ksuid(ts, rng)
        if reason == "invalid json":
            return '{"message_id":"%s","model":"m-home","count":' % good_id
        if reason == "not a json object":
            return "[1,2,3]"
        if reason == "missing message_id":
            return dumps({"model": "m-home", "count": 2, "item": {}, "context": {}})
        if reason == "invalid message_id":
            return dumps({"message_id": "not-a-ksuid", "model": "m-home", "count": 1})
        if reason == "invalid model":
            return dumps({"message_id": good_id, "model": "bad model!", "count": 1})
        if reason == "invalid count":
            return dumps({"message_id": good_id, "model": "m-home", "count": 0})
        if reason == "invalid count of 1 with sample":
            return dumps({"message_id": good_id, "model": "m-home", "count": 1,
                          "item": {}, "context": {}, "sample": {}})
        if reason == "missing decision_id":
            return dumps({"message_id": good_id, "model": "m-home", "reward": 1.0})
        if reason == "invalid reward":
            return dumps({"message_id": good_id, "model": "m-home",
                          "decision_id": ksuid(ts - 60, rng), "reward": "1.0"})
        raise ValueError(reason)

    def finish(self, pending, batch_ts):
        """Adds duplicates and invalid lines, shuffles each batch."""
        rng = self.rng
        reasons = [r for r, _ in INVALID_REASONS]
        weights = [w for _, w in INVALID_REASONS]
        n = len(pending)
        for b in range(n):
            for line in list(pending[b]):
                if rng.random() < 0.01:  # at-least-once redelivery
                    target = b if (b + 1 >= n or rng.random() < 0.5) else b + 1
                    pending[target].append(line)
                    self.duplicates += 1
        for b in range(n):
            for _ in range(max(1, round(0.005 * len(pending[b])))):
                reason = rng.choices(reasons, weights)[0]
                pending[b].append(self.invalid_line(reason, batch_ts[b]))
                self.census[reason] = self.census.get(reason, 0) + 1
            rng.shuffle(pending[b])
        self.batches = pending


def _delay(rng, max_delay):
    """Batches between a decision and its reward: half same-batch."""
    if rng.random() < 0.5:
        return 0
    return rng.randint(1, max_delay)


def trickle(world, seed, size):
    """Small firehose batches; a model's rewards arrive 0-8 of its own
    batches after the decision. Groom once all batches are in, then a
    cold train and a warm retrain each of m-cart and m-home."""
    cfg = SIZES["trickle"][size]
    tr = Traffic(world, seed)
    rng = tr.rng
    n, window = len(TRICKLE_BATCHES), 300
    pending = [[] for _ in range(n)]
    batch_ts = [T0 + b * window for b in range(n)]
    for m in TRICKLE_MODELS:
        tr.model_truth(m)
    for b, shares in enumerate(TRICKLE_BATCHES):
        models = sorted(shares)
        for _ in range(cfg["decisions_per_batch"]):
            ts = batch_ts[b] + rng.randrange(window)
            model = rng.choices(models, [shares[m] for m in models])[0]
            later = [c for c in range(b, n) if model in TRICKLE_BATCHES[c]]
            line, did, rewards = tr.decision(model, ts)
            pending[b].append(line)
            for value in rewards:
                k = _delay(rng, 8)
                if k >= len(later):
                    continue  # reward not yet delivered when the run ends
                arrive = later[k]
                if arrive > b:
                    tr.late_rewards += 1
                r_ts = max(ts, batch_ts[arrive]) + rng.randrange(window // 2)
                pending[arrive].append(tr.reward_line(model, did, value, r_ts))
    tr.finish(pending, batch_ts)
    steps = [{"op": "ingest", "batch": b} for b in range(n)]
    steps += [{"op": "groom", "models": TRICKLE_MODELS},
              # two models trained in turn, as GroomThenTrain trains
              # each model; the scored model, m-home, last
              {"op": "train", "mode": "cold", "model": "m-cart"},
              {"op": "train", "mode": "cold", "model": "m-home"},
              {"op": "train", "mode": "warm", "model": "m-cart"},
              {"op": "train", "mode": "warm", "model": "m-home"},
              {"op": "score"}]
    return tr, steps, TRICKLE_MODELS, TRICKLE_MODELS[0], cfg["files_per_batch"]


def train_cycle(world, seed, size):
    """One bulk batch for one model, then late-reward batches; 40% of
    rewards arrive late."""
    cfg = SIZES["train_cycle"][size]
    tr = Traffic(world, seed)
    rng = tr.rng
    late = cfg["late_batches"]
    n = 1 + late
    pending = [[] for _ in range(n)]
    # late batches arrive after the bulk window, 5 minutes apart
    batch_ts = [T0] + [T0 + cfg["window_s"] + 300 * i for i in range(1, late + 1)]
    model = BULK_MODEL
    for _ in range(cfg["decisions"]):
        ts = T0 + rng.randrange(cfg["window_s"])
        line, did, rewards = tr.decision(model, ts)
        pending[0].append(line)
        for value in rewards:
            arrive = 0 if rng.random() < 0.6 else rng.randint(1, n - 1)
            if arrive >= 1:
                tr.late_rewards += 1
                r_ts = batch_ts[arrive] + rng.randrange(300)
            else:
                r_ts = ts + rng.randrange(60)
            pending[arrive].append(tr.reward_line(model, did, value, r_ts))
    tr.finish(pending, batch_ts)
    steps = [{"op": "ingest", "batch": 0, "bulk": True},
             {"op": "groom", "models": [model]},
             {"op": "train", "mode": "cold"}]
    # each late batch is followed by a groom and a warm retrain, the
    # reference's 4-hourly cycle
    for b in range(1, n):
        steps += [{"op": "ingest", "batch": b},
                  {"op": "groom", "models": [model]},
                  {"op": "train", "mode": "warm"}]
    steps += [{"op": "score"}]
    return tr, steps, [model], model, cfg["files_per_batch"], cfg["bulk_files"]


def write_gz(path, lines):
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as raw:
        # no filename and mtime 0 in the header: same seed, same bytes
        with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0,
                           compresslevel=6) as gz:
            gz.write(data)


def generate(workload, seed, run_dir, size="full"):
    """Writes inputs/*.jsonl.gz, manifest.json and truth.json under run_dir."""
    world = World()
    if workload == "trickle":
        tr, steps, models, train_model, per_batch = trickle(world, seed, size)
        bulk_files = per_batch
    elif workload == "train_cycle":
        tr, steps, models, train_model, per_batch, bulk_files = train_cycle(world, seed, size)
    else:
        raise ValueError("unknown workload %r" % workload)
    out_dir = os.path.join(run_dir, "inputs")
    os.makedirs(out_dir, exist_ok=True)
    batches = []
    for b, lines in enumerate(tr.batches):
        parts = bulk_files if b == 0 and workload == "train_cycle" else per_batch
        files = []
        for p in range(parts):
            name = "batch-%03d-%d.jsonl.gz" % (b, p)
            write_gz(os.path.join(out_dir, name), lines[p::parts])
            files.append(name)
        batches.append({"files": files, "lines": len(lines)})
    holdout = world.holdout(size)
    manifest = {
        "workload": workload, "seed": seed, "size": size,
        "models": models, "train_model": train_model,
        "batches": batches, "steps": steps,
        "train_config": TRAIN_CONFIG[(workload, size)] if size == "full" else TINY_TRAIN_CONFIG,
        "catalog": world.item_json,
        "holdout": [{"context": h["context"], "items": h["items"]} for h in holdout],
        "rank_contexts": HOLDOUT[size][2],
    }
    truth = {
        "models": tr.truth_models,
        "invalid_census": tr.census,
        "duplicates": tr.duplicates,
        "late_rewards": tr.late_rewards,
        "lines": sum(b["lines"] for b in batches),
        "holdout": [{"items": h["items"], "values": h["values"]} for h in holdout],
    }
    with open(os.path.join(run_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    with open(os.path.join(run_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return manifest, truth
