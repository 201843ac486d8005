#!/usr/bin/env python3
"""Seeded SBS-1 (dump1090 port 30003) traffic generator.

The stream is a function of the seed and the line number only; the clock
enters through the four date/time fields, which carry each line's due time
(`t0 + seq / rate`). Traffic shape (assumed, not fitted to any recorded
feed: the aircraft count, Zipf exponent, type mix and malformed shares below
are chosen, and no public source for them is cited):

- 300 aircraft with Zipf-skewed message rates, each flying a straight track
  that reflects inside a 4 x 6 degree coverage box, with periodic silences
  of 3 to 18 minutes (so a recording whose clock spans more than that, such
  as 30,000 lines at 10 lines/s, splits into several flights per aircraft);
- MSG transmission types 1/3/4/5/7/8 in a fixed mix;
- BAD_ARITY_SHARE of lines carry 21 or 23 fields (the parser must drop them);
- BAD_NUMBER_SHARE of lines carry one non-numeric token in a numeric field
  (the parser must coerce it to NULL);
- field 3 (session_id) is the line's sequence number, which is also the
  line's offset in the socket source, so every committed row can be traced
  back to the line (and the batch) it came from.

Two modes:

  gen.py serve --seed S --rate R       listen on 127.0.0.1 (ephemeral port,
                                       printed as "port N"), then obey
                                       commands on stdin, one per line:
      accept        close the current connection, accept the next one
      live SECONDS  open loop: send at RATE lines/s for SECONDS
      hold N        render the next N lines (not sent yet)
      burst         send the held lines as fast as the socket accepts
  live and burst start just past a whole second (see `next_second`).
      quit          exit
  Every command is answered with one line on stdout (see `serve`).

  gen.py file --seed S --lines N --rate R --out F --valid-out G
                                       write the stream with due times from
                                       a fixed base (a recording), and a copy
                                       holding only the 22-field lines.

One connection and one thread.
"""
import argparse
import bisect
import calendar
import math
import random
import socket
import sys
import time

N_AIRCRAFT = 300
ZIPF_S = 1.1
TYPE_MIX = ((3, 35), (4, 25), (5, 15), (1, 10), (7, 10), (8, 5))
BAD_ARITY_SHARE = 0.01
BAD_NUMBER_SHARE = 0.02
BAD_TOKENS = ("--", "n/a", "7x", "?")
# coverage box (lat, lon) around a receiver
LAT_LO, LAT_HI = 50.0, 54.0
LON_LO, LON_HI = 2.0, 8.0
# a recording's clock starts here (file mode)
FILE_BASE = calendar.timegm((2026, 8, 12, 0, 0, 0))

FIELDS = ("message_type", "transmission_type", "session_id", "aircraft_id",
          "hex_ident", "flight_id", "generated_date", "generated_time",
          "logged_date", "logged_time", "callsign", "altitude",
          "ground_speed", "track", "lat", "lon", "vertical_rate", "squawk",
          "alert", "emergency", "spi", "is_on_ground")
# 0-based field positions each transmission type fills (payload fields are
# 10..21, 11..22 in the 1-based SBS-1 spec; Aircraft.payload follows this)
FILLED = {
    1: (10,),
    3: (11, 14, 15, 18, 19, 20, 21),
    4: (12, 13, 16),
    5: (11, 18, 20, 21),
    7: (11, 21),
    8: (21,),
}
# positions parsed as numbers (a bad token there becomes NULL)
NUMERIC = frozenset((11, 12, 13, 14, 15, 16, 18, 19, 20, 21))


def _reflect(x, lo, hi):
    w = hi - lo
    y = (x - lo) % (2 * w)
    return lo + (2 * w - y if y > w else y)


class Aircraft:
    def __init__(self, rng, idx):
        self.idx = idx + 1
        self.hex = "%06X" % rng.randrange(0x400000, 0xC00000)
        self.callsign = ("%s%d" % ("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                                           for _ in range(3)),
                                   rng.randrange(1, 9999))).ljust(8)
        self.lat0 = rng.uniform(LAT_LO, LAT_HI)
        self.lon0 = rng.uniform(LON_LO, LON_HI)
        self.speed = rng.randrange(250, 480)          # kt
        self.track = rng.randrange(0, 360)            # deg
        self.alt = rng.randrange(30, 390) * 100       # ft
        self.vr = rng.choice((0, 0, 0, 64, -64, 1088, -1216))
        self.emergency_s = "-1" if rng.random() < 0.01 else "0"
        # visible for `on` seconds out of every `period` (moving out of range)
        self.period = rng.uniform(900.0, 2400.0)
        self.on = self.period * rng.uniform(0.55, 0.8)
        self.phase = rng.uniform(0.0, self.period)
        # degrees per second along the track
        rad = math.radians(self.track)
        deg_s = self.speed / 3600.0 / 60.0
        self.dlat = deg_s * math.cos(rad)
        self.dlon = deg_s * math.sin(rad) * 1.6
        self.speed_s, self.track_s, self.vr_s = (
            str(self.speed), str(self.track), str(self.vr))

    def visible(self, rel):
        return (rel + self.phase) % self.period < self.on

    def payload(self, rel, ttype):
        """Fields 10..21 of a `ttype` message at `rel` seconds into the
        stream (v[i] is field 10 + i)."""
        v = [""] * 12
        filled = FILLED[ttype]
        if ttype == 1:
            v[0] = self.callsign
        elif ttype == 4:
            v[2], v[3], v[6] = self.speed_s, self.track_s, self.vr_s
        else:
            v[11] = "0"
            if 11 in filled:
                v[1] = str(self.alt + int(self.vr * rel / 60.0) % 2000)
            if ttype == 3:
                v[4] = "%.5f" % _reflect(self.lat0 + self.dlat * rel, LAT_LO, LAT_HI)
                v[5] = "%.5f" % _reflect(self.lon0 + self.dlon * rel, LON_LO, LON_HI)
                v[9] = self.emergency_s
            if 18 in filled:
                v[8] = v[10] = "0"
        return v


class Stream:
    """Lines in sequence order: `next()` returns (head, tail, valid, coerced)
    where the line is head + date/time fields + tail, `valid` says whether it
    has 22 fields and `coerced` is the payload position turned non-numeric
    (or None)."""

    def __init__(self, seed, rate):
        rng = random.Random(seed)
        self.rate = float(rate)
        self.aircraft = [Aircraft(rng, i) for i in range(N_AIRCRAFT)]
        w = [1.0 / (i + 1) ** ZIPF_S for i in range(N_AIRCRAFT)]
        self.cum = [sum(w[:i + 1]) for i in range(N_AIRCRAFT)]
        self.types = [t for t, _ in TYPE_MIX]
        self.type_cum = []
        acc = 0
        for _, share in TYPE_MIX:
            acc += share
            self.type_cum.append(acc)
        self.rng = random.Random(seed * 7919 + 1)
        self.seq = 0

    def next(self):
        rng = self.rng
        seq = self.seq
        self.seq += 1
        rel = seq / self.rate
        while True:
            ac = self.aircraft[bisect.bisect_left(
                self.cum, rng.random() * self.cum[-1])]
            if ac.visible(rel):
                break
        ttype = self.types[bisect.bisect_left(
            self.type_cum, rng.random() * self.type_cum[-1])]
        v = ac.payload(rel, ttype)
        coerced = None
        r = rng.random()
        if r < BAD_NUMBER_SHARE:
            cands = [p for p in FILLED[ttype] if p in NUMERIC]
            if cands:
                coerced = rng.choice(cands)
                v[coerced - 10] = rng.choice(BAD_TOKENS)
        valid = True
        if BAD_NUMBER_SHARE <= r < BAD_NUMBER_SHARE + BAD_ARITY_SHARE:
            valid = False
            if rng.random() < 0.5:
                v = v[:-1]
            else:
                v = v + ["0"]
            coerced = None
        head = "MSG,%d,%d,%d,%s,%d," % (ttype, seq, ac.idx, ac.hex, ac.idx)
        return head, "," + ",".join(v), valid, coerced


class Clock:
    """Formats epoch milliseconds as SBS-1 'yyyy/MM/dd' and 'HH:mm:ss.SSS',
    caching the per-second part."""

    def __init__(self):
        self.sec = None
        self.parts = None

    def fmt(self, ms):
        s, m = divmod(int(ms), 1000)
        if s != self.sec:
            g = time.gmtime(s)
            self.sec = s
            self.parts = ("%04d/%02d/%02d" % (g.tm_year, g.tm_mon, g.tm_mday),
                          "%02d:%02d:%02d" % (g.tm_hour, g.tm_min, g.tm_sec))
        return self.parts[0], "%s.%03d" % (self.parts[1], m)


def next_second(offset_s=0.01):
    """Sleeps until `offset_s` past the next whole epoch second and returns
    that time in ms. Spark's ProcessingTime trigger fires on whole multiples
    of its interval, so traffic started here meets the 1 s trigger at the
    same phase every time."""
    now = time.time()
    target = math.floor(now) + 1 + offset_s
    time.sleep(target - now)
    return target * 1000.0


def render(head, tail, due_ms, seq, clock):
    gd, gt = clock.fmt(due_ms)
    ld, lt = clock.fmt(due_ms + 5 + seq % 23)
    return "%s%s,%s,%s,%s%s\n" % (head, gd, gt, ld, lt, tail)


def expectations(seed, n, rate):
    """What a correct pipeline must commit for the first n lines: the valid
    and invalid sequence numbers, per-column NULL counts over valid lines,
    and the number of fields that must have been coerced to NULL."""
    st = Stream(seed, rate)
    valid, invalid = [], []
    nulls = [0] * len(FIELDS)
    coerced = 0
    for _ in range(n):
        head, tail, ok, bad = st.next()
        seq = st.seq - 1
        if not ok:
            invalid.append(seq)
            continue
        valid.append(seq)
        for i, f in enumerate(tail[1:].split(",")):
            if f == "" or (10 + i) == bad:
                nulls[10 + i] += 1
        if bad is not None:
            coerced += 1
    return {"valid": valid, "invalid": invalid,
            "nulls": dict(zip(FIELDS, nulls)), "coerced": coerced}


def write_file(seed, n, rate, out, valid_out):
    st = Stream(seed, rate)
    clock = Clock()
    with open(out, "w") as f, open(valid_out, "w") as g:
        for _ in range(n):
            head, tail, ok, _ = st.next()
            seq = st.seq - 1
            line = render(head, tail, FILE_BASE * 1000.0 + seq * 1000.0 / rate,
                          seq, clock)
            f.write(line)
            if ok:
                g.write(line)


def serve(seed, rate):
    st = Stream(seed, rate)
    clock = Clock()
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    out = sys.stdout

    def reply(msg):
        out.write(msg + "\n")
        out.flush()

    reply("port %d" % srv.getsockname()[1])
    conn = None
    held = b""
    held_first = held_n = 0
    try:
        for cmd in sys.stdin:
            words = cmd.split()
            if not words:
                continue
            if words[0] == "accept":
                if conn is not None:
                    conn.close()
                conn, _ = srv.accept()
                reply("accepted")
            elif words[0] == "live":
                total = int(float(words[1]) * rate)
                first = st.seq
                t0 = next_second()
                sent = 0
                late_max = 0.0
                while sent < total:
                    now = time.time() * 1000.0
                    due_n = min(total, int((now - t0) * rate / 1000.0) + 1)
                    if due_n > sent:
                        late_max = max(late_max, now - (t0 + sent * 1000.0 / rate))
                        chunk = []
                        for k in range(sent, due_n):
                            head, tail, _, _ = st.next()
                            chunk.append(render(head, tail, t0 + k * 1000.0 / rate,
                                                first + k, clock))
                        conn.sendall("".join(chunk).encode("ascii"))
                        sent = due_n
                    time.sleep(0.002)
                reply("live %.3f %d %d %.3f" % (t0, first, total, late_max))
            elif words[0] == "hold":
                n = int(words[1])
                held_first = st.seq
                held_n = n
                chunk = []
                base = time.time() * 1000.0
                for k in range(n):
                    head, tail, _, _ = st.next()
                    chunk.append(render(head, tail, base + k * 1000.0 / rate,
                                        held_first + k, clock))
                held = "".join(chunk).encode("ascii")
                reply("held %d %d" % (held_first, held_n))
            elif words[0] == "burst":
                next_second()
                t_first = time.time() * 1000.0
                conn.sendall(held)
                t_last = time.time() * 1000.0
                reply("burst %.3f %.3f %d %d" % (t_first, t_last, held_first, held_n))
                held = b""
            elif words[0] == "quit":
                reply("bye")
                break
            else:
                reply("error unknown command %r" % words[0])
    finally:
        if conn is not None:
            conn.close()
        srv.close()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--rate", type=float, required=True)
    f = sub.add_parser("file")
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--lines", type=int, required=True)
    f.add_argument("--rate", type=float, required=True)
    f.add_argument("--out", required=True)
    f.add_argument("--valid-out", required=True)
    a = ap.parse_args(argv)
    if a.mode == "serve":
        serve(a.seed, a.rate)
    else:
        write_file(a.seed, a.lines, a.rate, a.out, a.valid_out)


if __name__ == "__main__":
    main()
