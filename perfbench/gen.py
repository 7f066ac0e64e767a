"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, and each prints the SHA-256 of what it wrote so that this can be
checked. The item-stream server (`serve`) is a separate process: one thread,
one localhost socket, sending on a fixed schedule whether or not the reader
keeps up, and reporting how late it ran.

    python3 perfbench/gen.py points OUT N SEED
    python3 perfbench/gen.py corpus OUT_DIR N_DOCS SEED
    python3 perfbench/gen.py items OUT N_TOTAL SEED
    python3 perfbench/gen.py serve PORT_FILE STATUS_FILE RATE ITEMS_FILE...
"""
import bisect
import hashlib
import json
import math
import os
import random
import socket
import sys
import time


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, os.path.dirname(paths[0])).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def gen_points(out, n, seed):
    """2-D points as `x,y` lines: 85% in 24 equally likely Gaussian clusters
    of spreads 0.4 to 2.5, 15% uniform noise, over a box centred on the origin so that a
    third of the range has negative coordinates (the floor-vs-truncate trap
    of grid cells)."""
    rng = random.Random(seed)
    lo, hi = -60.0, 120.0
    # the seed moves the clusters; their spreads are fixed, so the work a
    # pass does (dominated by the densest clusters) barely depends on it
    centers = [(rng.uniform(lo + 10, hi - 10), rng.uniform(lo + 10, hi - 10),
                0.4 + 2.1 * k / 23) for k in range(24)]
    lines = []
    for _ in range(n):
        if rng.random() < 0.85:
            cx, cy, s = centers[rng.randrange(len(centers))]
            x, y = rng.gauss(cx, s), rng.gauss(cy, s)
        else:
            x, y = rng.uniform(lo, hi), rng.uniform(lo, hi)
        lines.append("%.5f,%.5f" % (x, y))
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    return [out]


def zipf_sampler(rng, n_values, s):
    cum, acc = [], 0.0
    for k in range(1, n_values + 1):
        acc += 1.0 / k ** s
        cum.append(acc)
    return lambda: bisect.bisect_left(cum, rng.random() * acc)


def gen_items(out, n_total, seed):
    """Zipf(1.1)-skewed integers over 20k values, one per line; the
    stream's ground truth (the program only ever sees them on the socket)."""
    rng = random.Random(seed)
    draw = zipf_sampler(rng, 20000, 1.1)
    # shuffle the rank->value map so frequent items are not just 0,1,2...
    values = list(range(20000))
    rng.shuffle(values)
    with open(out, "w") as f:
        f.write("\n".join(str(values[draw()]) for _ in range(n_total)) + "\n")
    return [out]


SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
             "do", "fe", "gu", "hi", "ja", "bo"]


def gen_corpus(out_dir, n_docs, seed):
    """Documents (doc_id, text, lang, source, n_chars) and 64-d embeddings
    with vec_id = doc_id. Planted: exact-duplicate pairs inside the delivery
    split, the delivery split itself (doc_id % 4 == 3, as two stream files)
    and a forget list (doc_id % 29 == 5)."""
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
                    for _ in range(900)})
    word = zipf_sampler(rng, len(vocab), 1.0)
    topics = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(12)]
    langs = ["en"] * 6 + ["de", "fr", "es", "it"]
    texts = {}
    docs, embs = [], []
    delivery = [i for i in range(n_docs) if i % 4 == 3]
    # every 10th delivery doc copies the text of the delivery doc before it
    planted = {delivery[j]: delivery[j - 1] for j in range(1, len(delivery), 10)}
    for i in range(n_docs):
        if i in planted:
            text = texts[planted[i]]
        else:
            text = " ".join(vocab[word()] for _ in range(rng.randint(12, 60)))
        texts[i] = text
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(langs),
                     "source": "src%d" % rng.randrange(20), "n_chars": len(text)})
        t = topics[rng.randrange(len(topics))]
        v = [a + rng.gauss(0.0, 0.35) for a in t]
        norm = math.sqrt(sum(a * a for a in v))
        embs.append({"vec_id": i, "emb": [round(a / norm, 6) for a in v]})
    os.makedirs(os.path.join(out_dir, "delivery_docs"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "delivery_emb"), exist_ok=True)
    files = []

    def write(path, rows):
        with open(path, "w") as f:
            f.write("".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows))
        files.append(path)

    write(os.path.join(out_dir, "base_docs.json"), [d for d in docs if d["doc_id"] % 4 != 3])
    write(os.path.join(out_dir, "base_emb.json"), [e for e in embs if e["vec_id"] % 4 != 3])
    dd = [d for d in docs if d["doc_id"] % 4 == 3]
    de = [e for e in embs if e["vec_id"] % 4 == 3]
    # one file per micro-batch under maxFilesPerTrigger=1: the second batch
    # of each upsert stream merges into what the first one wrote
    for part in range(2):
        write(os.path.join(out_dir, "delivery_docs", "part-%d.json" % part),
              [{"doc_id": d["doc_id"], "text": d["text"]} for d in dd[part::2]])
        write(os.path.join(out_dir, "delivery_emb", "part-%d.json" % part), de[part::2])
    write(os.path.join(out_dir, "forget.json"),
          [{"vec_id": i} for i in range(n_docs) if i % 29 == 5])
    write(os.path.join(out_dir, "planted.json"),
          [{"copy": c, "orig": o} for c, o in sorted(planted.items())])
    return files


def serve(port_file, status_file, rate, item_files):
    """Serve each items file to one accepted connection, in order, at `rate`
    items/s from the moment of accept. Items are due at t0 + k/rate; each
    tick sends everything due. A reader that stops reading (the query ends
    after n items) just ends that connection."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(300)
    with open(port_file + ".tmp", "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(port_file + ".tmp", port_file)
    status = open(status_file, "a")
    for conn_no, path in enumerate(item_files):
        with open(path, "rb") as f:
            buf = f.read()
        offs = [0]
        pos = buf.find(b"\n")
        while pos >= 0:
            offs.append(pos + 1)
            pos = buf.find(b"\n", pos + 1)
        n = len(offs) - 1
        conn, _ = srv.accept()
        t0 = time.time()
        status.write(json.dumps({"conn": conn_no, "event": "start", "t0_ms": t0 * 1000.0}) + "\n")
        status.flush()
        sent, late_max = 0, 0.0
        try:
            while sent < n:
                now = time.time()
                due = min(n, int((now - t0) * rate) + 1)
                if due > sent:
                    late_max = max(late_max, (now - (t0 + sent / rate)) * 1000.0)
                    conn.sendall(buf[offs[sent]:offs[due]])
                    sent = due
                time.sleep(0.002)
        except (BrokenPipeError, ConnectionResetError):
            pass
        status.write(json.dumps({"conn": conn_no, "event": "end", "t0_ms": t0 * 1000.0,
                                 "sent": sent, "late_ms_max": late_max}) + "\n")
        status.flush()
        # keep the connection open until the reader closes it
        conn.settimeout(300)
        try:
            while conn.recv(4096):
                pass
        except OSError:
            pass
        conn.close()
    status.close()


def main(argv):
    kind = argv[1]
    if kind == "serve":
        serve(argv[2], argv[3], float(argv[4]), argv[5:])
        return
    out, n, seed = argv[2], int(argv[3]), int(argv[4])
    files = {"points": gen_points, "items": gen_items, "corpus": gen_corpus}[kind](out, n, seed)
    print("sha256 %s %s" % (kind, sha256_files(files)))


if __name__ == "__main__":
    main(sys.argv)
