"""Seeded inputs of the two workloads.

Everything the JVM receives that depends on --seed is produced here: the API
request stream, the nightly payload files with the corrupted copies injected
into them, and the kernel order. The input tables and the clean payloads are
fixed (GenData), so the registry and risk-score answers can be checked against
recorded oracle fingerprints.
"""
import bisect
import glob
import math
import os
import random

DEVICES = 1500
BUCKETS = 32
DAYS = 30  # 2024-01-01 .. 2024-01-30
EVENTS = 100000
ZIPF_S = 1.1
REQUESTS = 1000
# Request times keep falling for the first ~30-40 requests of a JVM (JIT).
WARMUP_DECKS = 4
CORRUPT_RATE = 0.01

# Construction-bound first, execution-bound second.
KERNELS = [
    "q_frequent_triples", "q_er_entities", "q_ppjoin",
    "q_edit_distance_er", "q_fd_check", "q_kendall_tau",
]


def zipf_sampler(rng, n, s):
    """Draws device ids with Zipf(s) popularity over a seeded rank order."""
    devices = list(range(n))
    rng.shuffle(devices)
    cum, total = [], 0.0
    for rank in range(1, n + 1):
        total += 1.0 / rank ** s
        cum.append(total)
    return lambda: devices[min(bisect.bisect_left(cum, rng.random() * total), n - 1)]


# The request mix, dealt as shuffled decks of ten (kind, window days), so
# that every whole deck has the same proportions: 50 % lookup + page, 20 %
# keyset page, 20 % dynamic filter, 10 % latest per device, and windows of
# 1-7 days averaging 4. Runs measure whole decks.
DECK = ([("lookup", d) for d in (1, 3, 4, 5, 7)] + [("keyset", 0)] * 2
        + [("dynamic", d) for d in (2, 6)] + [("latest", 0)])


def request(rng, device, kind, days):
    """One API request as a tab-separated line (see ServeApi.scala)."""
    first = rng.randint(1, DAYS - days + 1) if days else 0
    if kind == "lookup":
        return f"lookup\t{device()}\t{first}\t{days}\t{rng.choice((0, 0, 10, 20))}\t{rng.choice((25, 50, 100))}"
    if kind == "keyset":
        return f"keyset\t{device()}\t{rng.randrange(EVENTS)}\t{rng.choice((25, 50))}"
    if kind == "dynamic":
        ids = sorted({device() for _ in range(rng.randint(1, 5))})
        return f"dynamic\t{','.join(map(str, ids))}\t{first}\t{days}"
    return f"latest\t{rng.randrange(BUCKETS)}"


def serve_requests(seed):
    rng = random.Random(f"serve:{seed}")
    device = zipf_sampler(rng, DEVICES, ZIPF_S)
    def deal():
        deck = list(DECK)
        rng.shuffle(deck)
        return [request(rng, device, kind, days) for kind, days in deck]
    warm = [r for _ in range(WARMUP_DECKS) for r in deal()]
    reqs = []
    while len(reqs) < REQUESTS:
        reqs += deal()
    return warm, reqs


def corruptions(seed):
    """(event_id, cut) pairs: a truncated copy of that event's payload is
    injected next to it; `cut` is the kept fraction of the JSON text."""
    rng = random.Random(f"daily:{seed}")
    out = []
    for event_id in range(EVENTS):
        if rng.random() < CORRUPT_RATE:
            out.append((event_id, round(rng.uniform(0.1, 0.9), 6)))
    return out


def inject_payloads(seed, clean_dir, out_dir):
    """Writes `<out_dir>/payloads/<day>.txt`, one edge-JSON payload a line,
    from GenData's clean `<clean_dir>/day=<day>/part-*` files (`<event id>
    TAB <json>` lines), with a truncated copy of each seeded corrupt event
    right after it, and `<out_dir>/corrupt_per_day.tsv` with their counts."""
    cuts = dict(corruptions(seed))
    os.makedirs(os.path.join(out_dir, "payloads"))
    counts = []
    for day_dir in sorted(glob.glob(os.path.join(clean_dir, "day=*"))):
        day = os.path.basename(day_dir)[len("day="):]
        lines, corrupt = [], 0
        for part in sorted(glob.glob(os.path.join(day_dir, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                for ln in fh:
                    event_id, value = ln.rstrip("\n").split("\t", 1)
                    lines.append(value)
                    cut = cuts.get(int(event_id))
                    if cut is not None:
                        lines.append(value[:math.floor(len(value) * cut)])
                        corrupt += 1
        with open(os.path.join(out_dir, "payloads", f"{day}.txt"), "w", encoding="utf-8") as fh:
            fh.write("".join(f"{ln}\n" for ln in lines))
        counts.append(f"{day}\t{corrupt}")
    if not counts:
        raise SystemExit(f"perfbench: no payloads under {clean_dir}")
    with open(os.path.join(out_dir, "corrupt_per_day.tsv"), "w") as fh:
        fh.write("".join(f"{c}\n" for c in counts))


def kernel_order(seed):
    order = list(KERNELS)
    random.Random(f"kernels:{seed}").shuffle(order)
    return order


def write(workload, seed, out_dir, clean_payloads=None):
    """The seeded inputs of one run; `nightly_batch` also needs the directory
    of GenData's clean payloads."""
    def put(name, lines):
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("".join(f"{ln}\n" for ln in lines))

    if workload == "serve_api":
        warm, reqs = serve_requests(seed)
        put("warmup.tsv", warm)
        put("requests.tsv", reqs)
    else:
        inject_payloads(seed, clean_payloads, out_dir)
        put("kernels.txt", kernel_order(seed))
