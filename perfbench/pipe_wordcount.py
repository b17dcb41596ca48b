"""Word count as a Hadoop-Streaming pipe pair for graft.mr.PipeExec.

    python3 pipe_wordcount.py map      stdin: text lines
                                       stdout: word<TAB>partial count
    python3 pipe_wordcount.py reduce   stdin: word<TAB>count lines, one
                                       word's lines contiguous
                                       stdout: word<TAB>total

The map side lowercases each line and counts \\w+ tokens, emitting one
partial count per word per input split, as the reference's
wordcountmap.py does.
"""
import collections
import re
import sys

WORD = re.compile(r"\w+")


def map_split():
    counts = collections.Counter()
    for line in sys.stdin:
        counts.update(WORD.findall(line.lower()))
    sys.stdout.writelines(f"{w}\t{n}\n" for w, n in counts.items())


def reduce_sorted():
    cur, total = None, 0
    for line in sys.stdin:
        key, _, value = line.rstrip("\n").partition("\t")
        if key != cur:
            if cur is not None:
                sys.stdout.write(f"{cur}\t{total}\n")
            cur, total = key, 0
        total += int(value)
    if cur is not None:
        sys.stdout.write(f"{cur}\t{total}\n")


if __name__ == "__main__":
    {"map": map_split, "reduce": reduce_sorted}[sys.argv[1]]()
