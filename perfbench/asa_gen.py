"""Deterministic ASA syslog archive + config for the ``ruleset_report`` workload.

The generator writes, for one seed:

* ``config.txt`` — an ASA config with network and service object-groups
  (one nested level each), two ACLs, rules that traffic never reaches
  (their networks lie in TEST-NET ranges no flow uses), a ``remark``
  line, and a trailing ``deny ip any any`` catch-all per ACL;
* ``logs/<day>/fw-<day>-<k>.log.gz`` — ``FILES_PER_DAY`` gzipped files
  per day mixing %ASA-6-106100 hit lines, other message IDs and
  malformed 106100 lines that the parser must drop.

and returns the per-day report the engine must produce, computed here by
an independent first-match evaluation over the expanded rule tuples:
per ``(acl, rule_id)`` the summed hit-cnt, distinct flows, distinct
sources and ACTIVE/UNUSED status. Every flow is generated inside some
non-catch-all rule, so each catch-all reads 0 hits.

Every seed gets the same amount of work; the seed draws addresses, ports
and rule popularity, not sizes. Every day draws the same number of
distinct flows (``FLOWS_PER_DAY``), so the rule match, whose work grows
with flows, costs the same each day; the number of hit lines per flow
differs per day (``LINES_PER_FLOW``), which sets how much work the flow
pre-aggregation shares. The two ACLs expand to different rule counts.
Files are written with gzip mtime 0: one seed gives byte-identical
inputs.
"""

from __future__ import annotations

import functools
import gzip
import ipaddress
import os
import random
from dataclasses import dataclass

DAYS = 3
FILES_PER_DAY = 4  # gzip is not splittable: one read task per file
# Sized from measurement (perfbench/README.md): on a 4-core host a warm day
# costs ~2.5 s of jobs and stages whatever its size, plus ~7 us per line, so
# the largest day's parse is a third of its time. The largest day comes
# second: the first day absorbs the session's cold start, so the median of
# the three first-pass latencies (op_p50_s) is the largest day's, which
# spread least across seeds.
FLOWS_PER_DAY = 500
LINES_PER_FLOW = (40, 400, 120)  # per day, in day order
OTHER_FRAC = 0.25  # other message IDs, relative to hit lines
MALFORMED_FRAC = 0.02  # truncated 106100 lines, relative to hit lines

# per ACL: how many host/port-range rules it has, so the two ACLs expand
# to different rule counts (the same for every seed)
ACLS = {"OUTSIDE_IN": 5, "INSIDE_OUT": 9}
# traffic never uses these, so rules built on them stay UNUSED
UNUSED_NETS = ("192.0.2.0/24", "198.51.100.0/24")
ANY_POOL = "100.64.0.0/12"  # where "any" endpoints draw addresses
HIGH_PORTS = (1024, 65535)


@dataclass(frozen=True)
class Rule:
    acl: str
    rule_id: int
    action: str
    proto: str  # tcp | udp | ip
    srcs: tuple[str, ...]  # CIDRs after object-group expansion
    dsts: tuple[str, ...]
    ports: tuple[tuple[int, int], ...]
    unused: bool = False

    def matches(self, proto: str, src: int, dst: int, port: int) -> bool:
        if self.proto != "ip" and self.proto != proto:
            return False
        return (
            any(_contains(c, src) for c in self.srcs)
            and any(_contains(c, dst) for c in self.dsts)
            and any(lo <= port <= hi for lo, hi in self.ports)
        )


@functools.lru_cache(maxsize=None)
def _span(cidr: str) -> tuple[int, int]:
    net = ipaddress.ip_network(cidr)
    return int(net.network_address), int(net.broadcast_address)


def _contains(cidr: str, ip: int) -> bool:
    lo, hi = _span(cidr)
    return lo <= ip <= hi


def _pick_ip(rng: random.Random, cidr: str) -> int:
    lo, hi = _span(ANY_POOL if cidr.endswith("/0") else cidr)
    return lo + rng.randrange(hi - lo + 1)


def _pick_port(rng: random.Random, lo: int, hi: int) -> int:
    if (lo, hi) == (0, 65535):
        lo, hi = HIGH_PORTS
    return rng.randint(lo, hi)


def _endpoint(cidr: str) -> str:
    net = ipaddress.ip_network(cidr)
    if net.prefixlen == 0:
        return "any"
    if net.prefixlen == 32:
        return f"host {net.network_address}"
    return f"{net.network_address} {net.netmask}"


def _build_config(rng: random.Random) -> tuple[str, list[Rule]]:
    lines: list[str] = []
    # network groups: servers (hosts), app subnets, and a nested union
    web = [f"10.10.{rng.randrange(256)}.{rng.randrange(1, 255)}/32" for _ in range(5)]
    apps = [f"10.{20 + i}.{rng.randrange(256)}.0/24" for i in range(3)]
    lines.append("object-group network WEB_SERVERS")
    lines += [f" network-object {_endpoint(c)}" for c in web]
    lines.append("object-group network APP_NETS")
    lines += [f" network-object {_endpoint(c)}" for c in apps]
    lines.append("object-group network ALL_SERVERS")
    lines += [" group-object WEB_SERVERS", " group-object APP_NETS"]
    web_ports = [(80, 80), (443, 443)] + [
        (p, p + rng.randint(0, 40)) for p in rng.sample(range(8000, 9000, 50), 2)
    ]
    lines.append("object-group service WEB_PORTS tcp")
    lines += [f" port-object eq {lo}" if lo == hi else f" port-object range {lo} {hi}"
              for lo, hi in web_ports]
    lines.append("object-group service ALT_PORTS tcp")
    lines += [" group-object WEB_PORTS", " port-object eq 22"]
    alt_ports = web_ports + [(22, 22)]

    rules: list[Rule] = []
    statements: list[str] = []

    def add(acl: str, action: str, proto: str, src: str, dst: str, port: str,
            srcs, dsts, ports, unused=False) -> None:
        rid = sum(r.acl == acl for r in rules) + 1
        rules.append(Rule(acl, rid, action, proto, tuple(srcs), tuple(dsts),
                          tuple(ports), unused))
        tail = f" {port}" if port else ""
        statements.append(f"access-list {acl} extended {action} {proto} {src} {dst}{tail}")

    any_ = "0.0.0.0/0"
    any_port = [(0, 65535)]
    for acl, n_app_rules in ACLS.items():
        statements.append(f"access-list {acl} remark generated benchmark policy")
        add(acl, "permit", "tcp", "any", "object-group WEB_SERVERS", "object-group WEB_PORTS",
            [any_], web, web_ports)
        add(acl, "permit", "udp", "any", "object-group ALL_SERVERS", "eq domain",
            [any_], web + apps, [(53, 53)])
        add(acl, "deny", "tcp", _endpoint(UNUSED_NETS[0]), "object-group ALL_SERVERS",
            "object-group ALT_PORTS", [UNUSED_NETS[0]], web + apps, alt_ports, unused=True)
        for _ in range(n_app_rules):
            app = rng.choice(apps)
            host = f"{app.split('/')[0][:-1]}{rng.randrange(1, 255)}/32"
            lo = rng.randrange(1024, 60000)
            hi = lo + rng.randint(0, 500)
            proto = rng.choice(("tcp", "udp"))
            add(acl, "permit", proto, "object-group APP_NETS", _endpoint(host),
                f"range {lo} {hi}", apps, [host], [(lo, hi)])
        add(acl, "permit", "ip", "object-group APP_NETS", "object-group WEB_SERVERS", "",
            apps, web, any_port)
        add(acl, "permit", "tcp", "any", _endpoint(UNUSED_NETS[1]), "eq https",
            [any_], [UNUSED_NETS[1]], [(443, 443)], unused=True)
        add(acl, "deny", "ip", "any", "any", "", [any_], [any_], any_port, unused=True)
    return "\n".join(lines + statements) + "\n", rules


def _ip(n: int) -> str:
    return f"{n >> 24}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"


def _other_line(rng: random.Random) -> str:
    a = _ip(_pick_ip(rng, ANY_POOL))
    b = _ip(_pick_ip(rng, "10.0.0.0/8"))
    return rng.choice((
        f"%ASA-6-302013: Built inbound TCP connection {rng.randrange(10**6)} for "
        f"outside:{a}/{rng.randint(1024, 65535)} to inside:{b}/443",
        f"%ASA-6-302014: Teardown TCP connection {rng.randrange(10**6)} for "
        f"outside:{a}/{rng.randint(1024, 65535)} to inside:{b}/443 duration 0:00:01",
        f"%ASA-4-106023: Deny udp src outside:{a}/{rng.randint(1024, 65535)} "
        f"dst inside:{b}/161 by access-group \"OUTSIDE_IN\"",
        f"%ASA-5-111008: User 'admin' executed the 'show access-list' command.",
    ))


def generate(out_dir: str, seed: int, days: int = DAYS,
             flows_per_day: int = FLOWS_PER_DAY) -> dict:
    """Write config and logs under ``out_dir``; return the manifest.

    The manifest holds the stated input size and ``expected``: for each
    day, ``{"<acl>/<rule_id>": [action, hits, n_flows, n_sources, status]}``
    covering every rule statement. ``days`` and ``flows_per_day`` shrink
    the archive for tests."""
    rng = random.Random(seed)
    config, rules = _build_config(rng)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "config.txt"), "w") as f:
        f.write(config)
    active = [r for r in rules if not r.unused]
    weights = [1.0 / (i + 1) for i in range(len(active))]  # skewed rule popularity

    day_info = []
    expected: dict[str, dict[str, list]] = {}
    total_lines = 0
    for d, lines_per_flow in enumerate(LINES_PER_FLOW[:days]):
        day = f"2024-03-{d + 1:02d}"
        hit_lines = flows_per_day * lines_per_flow
        usage: dict[tuple[str, int], list] = {}
        lines: list[str] = []
        for _ in range(flows_per_day):
            r = rng.choices(active, weights)[0]
            proto = r.proto if r.proto != "ip" else rng.choice(("tcp", "udp"))
            src = _pick_ip(rng, rng.choice(r.srcs))
            dst = _pick_ip(rng, rng.choice(r.dsts))
            port = _pick_port(rng, *rng.choice(r.ports))
            first = next(x for x in rules if x.acl == r.acl
                         and x.matches(proto, src, dst, port))
            verb = "permitted" if first.action == "permit" else "denied"
            head = f"%ASA-6-106100: access-list {r.acl} {verb} {proto} outside/{_ip(src)}("
            tail = f") -> inside/{_ip(dst)}({port}) hit-cnt "
            hits = 0
            for _ in range(lines_per_flow):
                cnt = 1 + rng.getrandbits(16) % 3
                hits += cnt
                lines.append(
                    f"{head}{1024 + rng.getrandbits(16) % 64512}{tail}{cnt} "
                    f"300-second interval [0x{rng.getrandbits(32):08x}, 0x0]"
                )
            u = usage.setdefault((first.acl, first.rule_id), [0, set(), set()])
            u[0] += hits
            u[1].add((r.acl, proto, src, dst, port))
            u[2].add(src)
        for _ in range(int(hit_lines * MALFORMED_FRAC)):
            # cut before "hit-cnt": still a 106100 line, but unparseable
            good = lines[rng.randrange(len(lines))]
            lines.append(good[: good.find(" hit-cnt") - rng.randint(0, 8)])
        lines += [_other_line(rng) for _ in range(int(hit_lines * OTHER_FRAC))]
        rng.shuffle(lines)
        day_dir = os.path.join(out_dir, "logs", day)
        os.makedirs(day_dir, exist_ok=True)
        per_file = -(-len(lines) // FILES_PER_DAY)
        for k in range(FILES_PER_DAY):
            chunk = "\n".join(lines[k * per_file:(k + 1) * per_file]) + "\n"
            with open(os.path.join(day_dir, f"fw-{day}-{k}.log.gz"), "wb") as f:
                f.write(gzip.compress(chunk.encode(), compresslevel=6, mtime=0))
        total_lines += len(lines)
        # two draws can land on one flow tuple: flows are counted as sets
        expected[day] = {}
        for r in rules:
            u = usage.get((r.acl, r.rule_id))
            expected[day][f"{r.acl}/{r.rule_id}"] = (
                [r.action, u[0], len(u[1]), len(u[2]), "ACTIVE"] if u
                else [r.action, 0, 0, 0, "UNUSED"]
            )
        day_info.append({"day": day, "dir": day_dir, "lines": len(lines),
                     "hit_lines": hit_lines,
                     "flows": sum(len(u[1]) for u in usage.values()),
                     "lines_per_flow": lines_per_flow})
    return {
        "seed": seed,
        "config": os.path.join(out_dir, "config.txt"),
        "days": day_info,
        "files": days * FILES_PER_DAY,
        "lines": total_lines,
        "statements": len(rules),
        "expanded_rules": sum(len(r.srcs) * len(r.dsts) * len(r.ports) for r in rules),
        "expected": expected,
    }
