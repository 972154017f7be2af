#!/usr/bin/env python3
"""Round-11 tables.

Table 1 — combine-cache ablation (verdict item 3): best clean rep per
(config, cacheBits) from matrix_results_1e0_p2_r11cb{10,13,15}.csv,
vs the C t16 bars, mirroring the reference's extra/ study.

Table 2 — part-1 floor decomposition (verdict item 7): scan_floor vs
auto on cfg1/cfg2 from matrix_results_1e0_p1_r11{floor,auto}.csv,
plus the [dense-build] seconds scraped from /tmp/r11_campaign.log.

Clean rep: cpu probe < 0.8 s and shuffle probe < 2.5 s (idle bands on
this box); falls back to best rep with '*' when none is clean.
"""
import csv, os, re, sys

C_P2 = {6: 2.87, 7: 4.54, 18: 10.73}
C_P1 = {1: 0.88, 2: 0.49}
SHAPES_P2 = {(100, 100000000, 100, 1.0): 6,
             (100, 100000000, 10000, 1.0): 7,
             (100000000, 100000000, 0, 0.0): 18}
SHAPES_P1 = {(100, 1.0, 0.5): 1, (100, 1.0, 1.0): 2}


def best(path, part):
    out = {}
    if not os.path.exists(path):
        return out
    for r in csv.reader(open(path)):
        if len(r) < 15:
            continue
        inner, isel = int(r[0]), float(r[1])
        osel, groups, hh, hhp = float(r[4]), int(r[6]), int(r[7]), float(r[8])
        key = SHAPES_P2.get((inner, groups, hh, hhp)) if part == 2 \
            else SHAPES_P1.get((inner, isel, osel))
        if key is None:
            continue
        sec, plan = int(r[11]) / 1e9, r[12]
        clean = float(r[13]) < 0.8 and float(r[14]) < 2.5
        out.setdefault(key, []).append((sec, plan, clean))
    return {k: (min([x for x in v if x[2]] or v)) for k, v in out.items()}


def main():
    print("## combine-cache ablation (p2, shared_dense, best clean rep, s)")
    cols = {b: best(f"matrix_results_1e0_p2_r11cb{b}.csv", 2) for b in (10, 13, 15)}
    print("| cfg | C t16 | 2^10 | 2^13 | 2^15 |")
    print("|---|---|---|---|---|")
    for cfg in (6, 7, 18):
        row = [f"| {cfg} | {C_P2[cfg]:.2f} |"]
        for b in (10, 13, 15):
            v = cols[b].get(cfg)
            row.append(f" {v[0]:.2f}{'' if v[2] else '*'} ({v[0]/C_P2[cfg]:.2f}x) |"
                       if v else " - |")
        print("".join(row))

    print("\n## part-1 floor decomposition (best clean rep, s)")
    floor = best("matrix_results_1e0_p1_r11floor.csv", 1)
    auto = best("matrix_results_1e0_p1_r11auto.csv", 1)
    builds = re.findall(r"\[dense-build\] n=\d+ (?:build|job)=([0-9.]+) s",
                        open("/tmp/r11_campaign.log").read()) \
        if os.path.exists("/tmp/r11_campaign.log") else []
    print("| cfg | C t16 | scan floor | auto (full) | full-floor |")
    print("|---|---|---|---|---|")
    for cfg in (1, 2):
        f, a = floor.get(cfg), auto.get(cfg)
        if f and a:
            print(f"| {cfg} | {C_P1[cfg]:.2f} | {f[0]:.2f}{'' if f[2] else '*'} "
                  f"| {a[0]:.2f}{'' if a[2] else '*'} ({a[0]/C_P1[cfg]:.2f}x) "
                  f"| {a[0]-f[0]:.2f} |")
    if builds:
        print(f"dense-build job times (s): {', '.join(builds)}")


if __name__ == "__main__":
    main()
