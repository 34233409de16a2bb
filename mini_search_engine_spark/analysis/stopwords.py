"""The fixed 127-word English stopword list.

Copied verbatim (as data) from the reference
``analysis/StopWords.java:15-143`` — the reference comment says "Please use
this list and don't change it for uniform behavior in testing". Do NOT swap
for ``pyspark.ml.feature.StopWordsRemover`` (different list).
"""

STOP_WORDS: frozenset[str] = frozenset(
    """i me my myself we our ours ourselves you your yours yourself
    yourselves he him his himself she her hers herself it its itself they
    them their theirs themselves what which who whom this that these those
    am is are was were be been being have has had having do does did doing
    a an the and but if or because as until while of at by for with about
    against between into through during before after above below to from
    up down in out on off over under again further then once here there
    when where why how all any both each few more most other some such no
    nor not only own same so than too very s t can will just don should
    now""".split()
)

# Stable ordering for building literal Catalyst IN-lists / SQL NOT IN lists.
STOP_WORDS_SORTED: tuple[str, ...] = tuple(sorted(STOP_WORDS))

assert len(STOP_WORDS) == 127, len(STOP_WORDS)

