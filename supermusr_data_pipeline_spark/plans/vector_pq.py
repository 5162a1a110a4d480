"""Product-quantization ANN over the embeddings table (q78): IVF coarse
partitioning + PQ asymmetric-distance search + exact re-ranking.

The memory-frontier production configuration past q51's IVF-SQ8: the scan
path holds 16 4-bit codes per vector (8 B/vec vs SQ8's 64 B vs
float32's 256 B), and per-candidate scoring is M=16 table lookups instead
of a 64-term dot product.  The 64-dim embedding splits into 16 contiguous
4-dim subspaces; each has an independent K=16-codeword L2 k-means codebook
(``tools/fit_pq_codebooks.py``, seeded, snapshotted below so the DuckDB
oracle and the Spark plan share byte-identical literals — the
`_CENTROIDS` pattern).  Codes quantize RAW vectors, not residuals
(DiskANN-style; residual PQ needs per-cell codebooks and buys little at
K_coarse=8 — documented trade).

Search is asymmetric (ADC): the query stays un-quantized; per subspace it
precomputes a 16-entry table of dot products against the codewords, and a
candidate's approximate score is the sum of 16 table lookups selected by
its codes.  Candidates come only from the query's top-`_N_PROBE` coarse
IVF cells (the q29 index); the ADC top-`_PQ_SHORTLIST` shortlist is then
re-ranked with exact cosine (one narrow join back to the float table), so
quantization error costs recall only when a true top-3 neighbor falls
outside the shortlist.

Scale shape: corpus pass is narrow (encode = per-row argmin over literal
codebooks, all JVM higher-order functions), one shuffle on cell id shared
with the q29 index build; the exploded (query, probe-cell) side and the
shortlist are tiny and BROADCAST.  At 100 TB the code table (vec_id, cell,
codes) is the persistent index artifact — 8 B/vec means a 400 B/row
corpus scans 50x less than float re-rank, and the float table is touched
only for |Q| x shortlist rows.

Reference: LLM-extension scope (no reference analog); the IVF layer and
query cadence mirror q29 (``plans/text_dedup.py``).  PQ follows Jegou,
Douze, Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011) — public method, original implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..sources.testdata import load_table, spread_scan
from .relational import _register
from .text_dedup import (
    _codebook,
    _ivf_dots_duck,
    _ivf_dots_spark,
    _probe_order_spark,
    embedding_table,
)

_PQ_M = 16       # subspaces
_PQ_SUB = 4      # dims per subspace
_PQ_K = 16       # codewords per subspace (4-bit codes: 16 x 4 bits = 8 B/vec)
_PQ_SHORTLIST = 24  # ADC candidates re-ranked exactly
# the shortlist scales with the corpus (it is an absolute count against a
# probed candidate pool that grows with n); per-corpus values mirror the
# _CODEBOOKS pattern
_PQ_SHORTLISTS = {"sf0.1": 96}


def _pq_shortlist(sf_dir: str) -> int:
    import os

    return _PQ_SHORTLISTS.get(
        os.path.basename(os.path.normpath(sf_dir)), _PQ_SHORTLIST
    )

# fit by tools/fit_pq_codebooks.py on sf0.01 (seed 7, 25 iters); 6dp so the
# Spark `...D` literals and the DuckDB `::DOUBLE[]` casts parse to
# bit-identical doubles (same argument as _CENTROIDS)
_PQ_CODEBOOKS = [
    [  # subspace 0
        [-0.087820, -0.172025, 0.058143, -0.065147],
        [-0.062591, -0.115535, 0.014854, 0.173838],
        [-0.169557, 0.046494, 0.095302, 0.035768],
        [-0.045722, -0.096748, -0.124869, -0.146596],
        [-0.123876, 0.079900, 0.085119, -0.179419],
        [0.000330, 0.013733, 0.026053, -0.090478],
        [0.055631, 0.033685, -0.050168, 0.146862],
        [0.117202, -0.125374, -0.062950, 0.009850],
        [0.053440, 0.143985, -0.085279, -0.129568],
        [0.195649, -0.023827, 0.059763, -0.090442],
        [0.006509, 0.225269, 0.081301, 0.011727],
        [-0.122603, 0.071419, -0.062366, 0.061445],
        [0.070606, 0.057124, -0.219722, 0.056533],
        [-0.196360, -0.034628, -0.154557, -0.031007],
        [-0.042622, -0.041486, 0.229713, -0.048305],
        [0.084426, 0.042662, 0.149006, 0.087883],
    ],
    [  # subspace 1
        [0.126345, 0.027398, 0.006371, 0.169500],
        [0.040544, -0.042225, -0.097569, -0.207528],
        [-0.065554, 0.095697, -0.192242, -0.044877],
        [-0.167341, -0.074611, 0.001836, 0.040343],
        [0.149623, 0.168424, -0.193769, 0.013770],
        [0.118962, 0.125831, 0.034855, -0.115450],
        [0.007316, 0.141258, -0.034257, 0.121378],
        [0.130242, -0.196261, -0.055649, 0.124375],
        [-0.147225, 0.102904, 0.020902, -0.032347],
        [-0.122771, -0.222891, -0.048113, -0.153609],
        [-0.039804, -0.195303, 0.147576, 0.100839],
        [0.033315, 0.118182, 0.218547, -0.019611],
        [0.044515, -0.060421, 0.084549, -0.100440],
        [0.192028, -0.054274, -0.125497, 0.007627],
        [-0.061330, 0.007698, 0.099184, 0.156912],
        [-0.012660, -0.055932, -0.110868, 0.063149],
    ],
    [  # subspace 2
        [0.035947, 0.037723, -0.015045, -0.254415],
        [0.108381, 0.004619, -0.126393, -0.011952],
        [-0.051661, 0.155359, -0.137497, 0.190797],
        [-0.036737, -0.035855, -0.024239, 0.078017],
        [-0.047240, -0.173165, -0.056450, -0.031068],
        [-0.045905, 0.024339, 0.096045, 0.233184],
        [-0.028590, 0.241293, -0.071489, -0.026042],
        [0.001359, 0.168680, 0.136877, -0.017203],
        [-0.156868, 0.064952, 0.059214, 0.007711],
        [0.171792, 0.021487, 0.027856, -0.019488],
        [0.169497, 0.039893, 0.188867, 0.121489],
        [0.080878, -0.140252, -0.084106, 0.121452],
        [-0.117618, -0.009219, -0.132248, -0.065212],
        [-0.118058, -0.158830, 0.074355, -0.136562],
        [0.034826, -0.143712, 0.184375, 0.047438],
        [-0.001497, -0.028229, 0.168245, -0.115978],
    ],
    [  # subspace 3
        [-0.016201, 0.013277, -0.172858, -0.087287],
        [0.061201, 0.024666, -0.117284, 0.216417],
        [-0.075351, -0.220161, -0.071745, -0.036725],
        [0.092484, -0.055221, -0.031504, -0.173937],
        [0.103383, 0.135612, -0.090643, 0.012122],
        [-0.051453, 0.241571, 0.048101, -0.051758],
        [0.065044, 0.029961, 0.122472, -0.125709],
        [0.046124, -0.120639, 0.064026, -0.023841],
        [0.091276, -0.142249, -0.037678, 0.102727],
        [-0.191484, -0.081887, 0.082405, -0.062617],
        [-0.098885, -0.022537, -0.159160, 0.100949],
        [0.166873, 0.144248, 0.071503, 0.104769],
        [-0.053193, 0.083023, -0.005713, 0.107788],
        [0.058822, -0.070086, 0.191722, 0.089968],
        [-0.156966, 0.021517, -0.049834, -0.151329],
        [-0.078592, 0.095899, 0.169363, 0.086030],
    ],
    [  # subspace 4
        [0.096071, -0.114834, -0.097847, 0.075681],
        [-0.124412, 0.026939, -0.118725, -0.004605],
        [-0.071476, 0.102966, 0.066770, 0.028907],
        [0.062231, -0.068705, 0.070868, 0.020698],
        [0.059048, 0.089780, 0.011038, 0.178721],
        [-0.122722, 0.013670, 0.076521, -0.153489],
        [0.153196, -0.129260, -0.007224, -0.126571],
        [-0.058749, 0.219551, -0.091952, 0.036619],
        [-0.141724, -0.201999, -0.120381, -0.041698],
        [0.061184, 0.013997, -0.223723, 0.064122],
        [0.124359, 0.110177, 0.027235, -0.093555],
        [0.054821, 0.008689, -0.105570, -0.144863],
        [-0.074095, -0.152839, 0.132818, -0.010998],
        [0.073559, 0.016493, 0.224694, 0.064981],
        [-0.033460, 0.232053, 0.079275, -0.127040],
        [-0.104429, -0.046448, -0.009421, 0.135434],
    ],
    [  # subspace 5
        [0.174127, 0.069709, 0.124451, -0.081300],
        [-0.010625, -0.235891, 0.026498, -0.019226],
        [-0.051797, -0.092583, 0.101003, 0.102156],
        [0.029882, 0.073137, 0.044165, -0.023032],
        [-0.117822, -0.072379, 0.063891, -0.101073],
        [-0.127633, -0.058949, -0.066030, 0.214424],
        [0.023603, -0.081719, -0.143813, 0.025437],
        [0.020686, -0.077224, 0.172102, -0.208421],
        [0.109022, -0.084223, 0.046125, 0.045526],
        [0.103276, -0.005236, -0.016781, -0.251946],
        [-0.098922, -0.070413, -0.095981, -0.067399],
        [-0.087208, 0.114443, 0.149217, -0.118421],
        [-0.029337, 0.188312, -0.033730, 0.116777],
        [0.131420, 0.074625, -0.130323, 0.029571],
        [-0.166997, 0.100508, -0.074615, -0.088204],
        [-0.036721, 0.096372, 0.131270, 0.165671],
    ],
    [  # subspace 6
        [-0.132765, -0.132544, -0.050305, 0.058939],
        [0.158447, 0.071329, -0.049444, 0.008880],
        [0.036038, 0.273136, 0.118480, 0.004592],
        [0.006655, -0.051858, -0.144626, -0.114605],
        [0.115625, -0.183039, 0.029997, -0.037928],
        [-0.071837, 0.015902, 0.118781, 0.180474],
        [0.084708, -0.078435, -0.145615, 0.053483],
        [-0.182497, 0.123947, 0.051733, 0.037079],
        [-0.158922, 0.029016, -0.066484, -0.180820],
        [-0.114696, 0.015445, -0.158859, 0.105552],
        [0.056903, 0.122771, -0.078999, 0.139677],
        [-0.021381, -0.105077, 0.241664, -0.040529],
        [-0.062088, -0.068403, 0.069558, -0.085739],
        [0.078785, -0.096311, 0.033684, 0.162848],
        [0.003332, 0.157131, -0.066855, -0.079453],
        [0.134134, 0.084329, 0.119779, -0.035373],
    ],
    [  # subspace 7
        [-0.209721, -0.001793, 0.150533, -0.032386],
        [-0.092538, -0.064335, -0.048085, 0.010532],
        [0.089367, -0.174511, -0.120661, -0.042754],
        [-0.175568, 0.024732, -0.159129, -0.037291],
        [0.050567, 0.079988, -0.162177, 0.048321],
        [0.045650, 0.076904, 0.207409, 0.001675],
        [-0.043521, 0.192664, 0.024208, -0.099087],
        [0.158466, -0.026911, 0.094733, -0.218134],
        [0.162865, 0.012023, 0.004791, -0.025410],
        [-0.025019, -0.027033, 0.101037, -0.078174],
        [-0.048522, -0.124293, 0.046281, -0.189078],
        [-0.000707, -0.201893, 0.085870, 0.071312],
        [0.054727, 0.077570, -0.135635, -0.239922],
        [-0.011141, -0.077262, -0.066973, 0.205660],
        [0.052774, 0.209960, -0.007758, 0.143201],
        [-0.009878, 0.040056, 0.023564, 0.087682],
    ],
    [  # subspace 8
        [0.127697, 0.171251, -0.112797, 0.009818],
        [-0.202401, 0.023036, 0.003272, -0.062006],
        [0.095568, 0.055682, -0.007999, -0.117857],
        [0.020845, 0.120466, 0.163981, 0.150198],
        [-0.055509, -0.076883, 0.183379, 0.015883],
        [-0.071059, -0.058932, 0.003387, -0.212214],
        [-0.109909, 0.018928, -0.081044, 0.157696],
        [0.023752, 0.042990, 0.226530, -0.168838],
        [0.088812, -0.129163, -0.158410, -0.047688],
        [-0.061497, -0.085128, 0.048246, 0.176033],
        [0.150789, 0.031130, 0.063926, 0.089561],
        [0.078573, 0.235903, 0.083806, -0.033594],
        [0.126400, -0.125402, 0.062611, -0.049042],
        [0.081513, -0.026527, -0.081170, 0.166148],
        [-0.044634, 0.110185, -0.064641, 0.011958],
        [-0.074803, -0.145611, -0.077899, -0.020214],
    ],
    [  # subspace 9
        [-0.045675, -0.120068, -0.019733, -0.113165],
        [0.203215, 0.094796, 0.014818, 0.013274],
        [0.046375, 0.219025, -0.114694, -0.072480],
        [0.116104, -0.008814, 0.099950, -0.138753],
        [0.088799, -0.012267, -0.154196, -0.105462],
        [0.037257, 0.003249, 0.132156, 0.162916],
        [-0.098582, -0.183265, 0.031767, 0.123007],
        [-0.148621, 0.066926, -0.006201, -0.184247],
        [-0.070150, -0.065036, 0.199554, -0.048460],
        [-0.100930, 0.200448, 0.005511, 0.156416],
        [0.110757, -0.146799, -0.018206, 0.034845],
        [-0.258008, -0.019668, 0.100403, 0.035221],
        [-0.104706, 0.075965, -0.086220, -0.001711],
        [0.014725, -0.000229, -0.101308, 0.164592],
        [0.017373, 0.100875, 0.113016, 0.014160],
        [0.002458, -0.122131, -0.255792, 0.049544],
    ],
    [  # subspace 10
        [-0.004627, -0.205444, 0.057686, -0.129671],
        [-0.077568, -0.135676, -0.079825, 0.161734],
        [-0.201079, -0.022470, -0.082251, -0.058319],
        [-0.083464, 0.183047, 0.008109, -0.067495],
        [0.029150, -0.123463, -0.172557, -0.041805],
        [0.037736, 0.087728, 0.047078, 0.114589],
        [0.144060, 0.135700, -0.067706, -0.066852],
        [0.126056, -0.024633, -0.003377, 0.269027],
        [0.213169, -0.099903, 0.013986, -0.062185],
        [0.024541, 0.003245, -0.039068, -0.197376],
        [-0.044936, -0.093513, 0.014296, -0.008345],
        [-0.165497, -0.039283, 0.076119, 0.078577],
        [0.018152, 0.071359, 0.224418, -0.047769],
        [-0.051930, 0.071263, -0.150093, 0.051565],
        [0.025607, -0.124949, 0.211978, 0.066475],
        [0.112927, -0.056091, -0.010964, 0.085112],
    ],
    [  # subspace 11
        [-0.039734, -0.224581, -0.031460, 0.082948],
        [-0.112002, 0.084286, 0.160059, -0.156923],
        [0.181307, -0.047268, 0.101348, -0.046224],
        [-0.018252, 0.020855, 0.143346, 0.056244],
        [-0.009931, 0.041144, -0.058647, 0.049216],
        [-0.100865, -0.070455, -0.028976, -0.149193],
        [-0.116320, 0.023554, -0.182549, -0.028418],
        [0.036530, 0.153080, -0.003890, -0.137966],
        [0.144532, 0.070037, -0.135254, -0.024209],
        [0.137104, 0.022046, 0.025644, 0.129134],
        [-0.205552, 0.106013, -0.050791, -0.002871],
        [-0.175284, -0.049846, 0.062779, 0.075610],
        [0.049786, -0.112669, -0.160774, -0.025166],
        [-0.015227, -0.001686, -0.080228, 0.253373],
        [0.023495, -0.134684, 0.086647, -0.089579],
        [0.009845, 0.199463, 0.046314, 0.114719],
    ],
    [  # subspace 12
        [-0.189413, 0.055602, 0.069897, -0.097349],
        [0.042299, 0.062373, -0.027878, 0.170253],
        [-0.040373, 0.071730, -0.142402, -0.002951],
        [0.083848, -0.178688, 0.058494, -0.109467],
        [-0.011494, -0.005230, 0.034265, -0.078042],
        [0.187172, -0.082338, -0.145992, -0.017092],
        [0.134690, 0.089654, -0.026199, -0.032453],
        [-0.132029, -0.173409, 0.095417, 0.007366],
        [-0.104897, -0.053401, -0.111388, -0.095662],
        [-0.070598, -0.170500, -0.130920, 0.090064],
        [-0.170318, 0.030218, 0.011082, 0.130476],
        [0.013958, 0.171988, 0.121277, -0.012956],
        [0.177020, -0.022707, 0.120522, -0.018842],
        [0.078782, 0.056178, -0.033431, -0.238890],
        [0.008635, -0.055038, 0.183506, 0.034023],
        [0.055293, -0.138438, 0.055776, 0.153475],
    ],
    [  # subspace 13
        [-0.172900, -0.033157, 0.176441, -0.006463],
        [0.019378, -0.027379, -0.116415, -0.074206],
        [-0.151991, -0.030566, -0.074534, -0.224155],
        [0.146709, -0.092028, 0.187717, 0.021553],
        [0.046173, -0.078652, 0.128744, -0.181996],
        [-0.044373, 0.124476, -0.175829, -0.102612],
        [-0.032693, -0.203624, -0.053865, -0.050268],
        [0.025267, 0.032116, -0.120078, 0.130291],
        [-0.133217, 0.080883, 0.027828, 0.115954],
        [-0.051149, 0.107002, 0.031906, -0.104332],
        [-0.008909, 0.136630, 0.159806, 0.027625],
        [0.069949, -0.090064, 0.031636, -0.008156],
        [-0.161938, -0.115758, -0.098997, 0.044941],
        [0.067019, -0.054637, 0.070766, 0.161859],
        [0.194074, -0.106381, -0.101231, -0.017673],
        [0.131437, 0.097905, 0.011485, -0.029739],
    ],
    [  # subspace 14
        [-0.044689, 0.076870, -0.137074, -0.177930],
        [-0.102904, -0.007973, -0.137304, 0.154229],
        [0.019600, 0.145767, -0.250337, 0.151338],
        [0.138717, 0.057243, -0.089135, 0.048172],
        [-0.067789, 0.035009, 0.000638, 0.111649],
        [-0.040193, -0.135295, 0.080881, -0.036652],
        [0.078911, 0.038064, 0.220953, -0.001961],
        [0.019978, -0.116314, -0.075980, -0.169177],
        [0.122440, 0.123220, 0.045627, -0.158491],
        [-0.010983, 0.087447, 0.050039, -0.052321],
        [0.097696, -0.122533, -0.000444, 0.166608],
        [-0.018477, -0.094408, -0.205456, -0.012884],
        [-0.076433, 0.241696, -0.111977, -0.027662],
        [0.153897, -0.086530, 0.022264, -0.022118],
        [-0.197671, 0.009170, 0.064001, -0.082586],
        [-0.022733, 0.064847, 0.162854, 0.175773],
    ],
    [  # subspace 15
        [0.045208, 0.164051, -0.050436, 0.019742],
        [0.158717, -0.100898, -0.064668, -0.046032],
        [-0.080187, -0.067332, 0.197588, -0.018331],
        [-0.005250, -0.171423, 0.059262, -0.200937],
        [-0.130802, 0.067194, -0.126984, 0.063720],
        [0.088929, -0.036280, -0.090580, 0.150583],
        [0.022212, -0.199831, 0.038521, 0.069714],
        [-0.156363, -0.117321, -0.076274, -0.034366],
        [0.038622, 0.185421, 0.137065, 0.028631],
        [-0.156926, 0.115855, -0.046516, -0.123660],
        [-0.061173, 0.004701, 0.030630, -0.040426],
        [0.028709, 0.002019, -0.144439, -0.199308],
        [0.062574, 0.112925, 0.051032, -0.197624],
        [0.074550, 0.071129, -0.166604, -0.065377],
        [-0.039509, 0.020262, 0.081149, 0.180492],
        [0.152551, -0.001417, 0.102845, -0.014893],
    ],
]


def _half_norms() -> list[list[float]]:
    """0.5 * ||codeword||^2 per (subspace, codeword), rounded to 6dp and
    shared verbatim by both engines — the constant only has to be
    CONSISTENT across engines for the argmax to agree, not exact."""
    return [
        [round(sum(v * v for v in cw) / 2.0, 6) for cw in book]
        for book in _PQ_CODEBOOKS
    ]


_HALF_NORMS = _half_norms()


def _sub_dot_spark(col: str, s: int, cw: list[float]) -> str:
    """Dot of `col`'s subspace-s slice with a codeword literal (Spark).
    zip_with + left-fold aggregate: the accumulation order the q29/q51
    oracles already proved bit-stable against DuckDB's list_sum."""
    lst = "array(" + ", ".join(f"{x}D" for x in cw) + ")"
    return (
        f"aggregate(zip_with(slice({col}, {s * _PQ_SUB + 1}, {_PQ_SUB}), {lst}, "
        "(x, y) -> x * y), 0D, (a, x) -> a + x)"
    )


def _sub_dot_duck(col: str, s: int, cw: list[float]) -> str:
    lst = "[" + ", ".join(f"{x}" for x in cw) + "]::DOUBLE[]"
    return (
        f"list_sum([{col}[i + {s * _PQ_SUB}] * ({lst})[i] "
        f"for i in range(1, {_PQ_SUB + 1})])"
    )


def _book_lit(s: int) -> str:
    """Subspace s's codebook as ONE constant-foldable literal: an array of
    (codeword, half-norm) structs.  Folding the 16 codewords into a single
    literal + one `transform` lambda (instead of 16 inlined dot
    expressions) shrinks the expression tree ~16x — same arithmetic per
    element, far smaller codegen/task binaries (the inlined form shipped
    ~2 MB task binaries and fell out of whole-stage codegen)."""
    entries = ", ".join(
        "named_struct('cw', array("
        + ", ".join(f"{x}D" for x in cw)
        + f"), 'hn', {_HALF_NORMS[s][j]}D)"
        for j, cw in enumerate(_PQ_CODEBOOKS[s])
    )
    return f"array({entries})"


def _pq_scores_spark(col: str, s: int) -> str:
    """Assignment scores for subspace s: x.c_j - 0.5||c_j||^2 (argmax of
    this is the L2 argmin, with ||x||^2 constant per row).  One transform
    lambda over the literal codebook; the per-codeword dot keeps the
    zip_with + left-fold order the q29/q51 oracles proved bit-stable
    against DuckDB's list_sum."""
    return (
        f"transform({_book_lit(s)}, p -> "
        f"aggregate(zip_with(slice({col}, {s * _PQ_SUB + 1}, {_PQ_SUB}), p.cw, "
        "(x, y) -> x * y), 0D, (a, x) -> a + x) - p.hn)"
    )


def _pq_scores_duck(col: str, s: int) -> str:
    per = [
        f"{_sub_dot_duck(col, s, cw)} - {_HALF_NORMS[s][j]}"
        for j, cw in enumerate(_PQ_CODEBOOKS[s])
    ]
    return "[" + ",\n               ".join(per) + "]"


def _adc_tables_spark(col: str) -> str:
    """Per-subspace 16-entry ADC lookup tables for a query vector — one
    transform lambda per subspace over the same literal codebooks as the
    encode path (the `- p.hn` term is omitted: ADC ranks by raw dot)."""
    subs = [
        f"transform({_book_lit(s)}, p -> "
        f"aggregate(zip_with(slice({col}, {s * _PQ_SUB + 1}, {_PQ_SUB}), p.cw, "
        "(x, y) -> x * y), 0D, (a, x) -> a + x))"
        for s in range(_PQ_M)
    ]
    return "array(" + ",\n        ".join(subs) + ")"


def _adc_tables_duck(col: str) -> str:
    subs = []
    for s in range(_PQ_M):
        per = [_sub_dot_duck(col, s, cw) for cw in _PQ_CODEBOOKS[s]]
        subs.append("[" + ", ".join(per) + "]")
    return "[" + ",\n               ".join(subs) + "]"


# approximate score: 8 table lookups, summed left-to-right in both engines
_ADC_SUM_SPARK = " + ".join(
    f"element_at(element_at(tq, {s + 1}), element_at(codes, {s + 1}) + 1)"
    for s in range(_PQ_M)
)
_ADC_SUM_DUCK = " + ".join(
    f"qp.tq[{s + 1}][c.codes[{s + 1}] + 1]" for s in range(_PQ_M)
)


def _q78_oracle(sf_dir: str) -> str:
    """Oracle factory: the IVF codebook/probe count AND the ADC shortlist
    are per-corpus (`_codebook(sf_dir)`, `_pq_shortlist(sf_dir)`), so the
    SQL is generated with the same constants the Spark plan reads."""
    from .text_dedup import _probe_order_duck

    cents, n_probe = _codebook(sf_dir)
    pod = _probe_order_duck(len(cents))
    shortlist = _pq_shortlist(sf_dir)
    sc_cols = ",\n           ".join(
        f"{_pq_scores_duck('emb', s)} AS sc{s}" for s in range(_PQ_M)
    )
    codes = "[" + ", ".join(
        f"list_position(sc{s}, list_max(sc{s})) - 1" for s in range(_PQ_M)
    ) + "]"
    cos = (
        "round(list_sum([q2.qe[i] * e.emb[i] for i in range(1, 65)])"
        " / (sqrt(list_sum([x * x for x in q2.qe]))"
        " * sqrt(list_sum([x * x for x in e.emb]))), 6)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), d AS (
        SELECT vec_id, emb, {_ivf_dots_duck('emb', cents)} AS dots FROM e
    ), sc AS (
        SELECT vec_id, emb, ({pod})[1] AS cell,
           {sc_cols}
        FROM d
    ), codes AS (
        SELECT vec_id, cell, {codes} AS codes FROM sc
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe,
               ({pod})[1:{n_probe}] AS probe,
               {_adc_tables_duck('emb')} AS tq
        FROM d WHERE vec_id % 50 = 0
    ), qp AS (
        SELECT query_id, qe, tq, unnest(probe) AS pcell FROM q
    ), adc AS (
        SELECT qp.query_id, c.vec_id AS neighbor_id, c.cell,
               {_ADC_SUM_DUCK} AS adc
        FROM qp JOIN codes c ON c.cell = qp.pcell AND c.vec_id <> qp.query_id
    ), short AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc DESC, neighbor_id) AS arank
            FROM adc
        ) WHERE arank <= {shortlist}
    ), rer AS (
        SELECT s.query_id, s.neighbor_id, s.cell, s.adc, {cos} AS sim
        FROM short s
        JOIN e ON e.vec_id = s.neighbor_id
        JOIN q q2 ON q2.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, cell, round(adc, 6) AS adc, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
        FROM rer
    ) WHERE rank <= 3
    """


@_register("q78_ivf_pq_ann", oracle=_q78_oracle)
def q78_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbor: coarse IVF probes (q29's
    index), PQ asymmetric-distance scoring over 8-byte codes, exact cosine
    re-rank of the ADC shortlist.  See module docstring for the design and
    the 100 TB scan-cost argument.

    Output: top-3 neighbors per query (vec_id % 50) with both the ADC
    approximation and the exact cosine, so the quantization error is
    visible per pair."""
    cents, n_probe = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    # the session-shared cast table (also read by q116/q117): the scan and
    # the double cast run once per session, and its `ne` column gives the
    # re-rank both norms
    e = embedding_table(spark, sf_dir)
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))

    # corpus index: (vec_id, cell, codes) — the 8 B/vec scan artifact
    sc = d.select(
        "vec_id",
        F.expr(f"element_at({po}, 1)").alias("cell"),
        *[F.expr(_pq_scores_spark("emb", s)).alias(f"sc{s}") for s in range(_PQ_M)],
    )
    codes_expr = "array(" + ", ".join(
        f"cast(array_position(sc{s}, array_max(sc{s})) - 1 as int)"
        for s in range(_PQ_M)
    ) + ")"
    # materialize the 8 B/vec code table and the tiny query side once per
    # invocation: without the barrier Catalyst plants the whole
    # scan→dots→scores→argmax encode under EVERY consumer (the ADC join,
    # the re-rank, and the qe broadcast), roughly doubling the query's CPU
    # and its codegen surface (guide §1.2; measured r14: 3.6-4.3 s → 1.9-
    # 2.3 s warm, rows hash-identical); materialize() = localCheckpoint on
    # local masters, lineage-keeping persist on a cluster (guide §5)
    codes = materialize(
        sc.select("vec_id", "cell", F.expr(codes_expr).alias("codes")), eager=False
    )

    q = materialize(
        d.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.col("ne").alias("nq"),
            F.expr(f"slice({po}, 1, {n_probe})").alias("probe"),
            F.expr(_adc_tables_spark("emb")).alias("tq"),
        ),
        eager=False,
    )
    qp = q.select("query_id", "tq", F.explode("probe").alias("pcell"))
    adc = (
        F.broadcast(qp)
        .join(codes, (codes.cell == qp.pcell) & (codes.vec_id != qp.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.expr(_ADC_SUM_SPARK).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    short = adc.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= _pq_shortlist(sf_dir)
    )

    # exact re-rank: |Q| x shortlist rows touch the float table once
    qe_side = q.select("query_id", "qe", "nq")
    rer = (
        F.broadcast(short.select("query_id", "neighbor_id", "cell", "adc"))
        .join(e, e.vec_id == F.col("neighbor_id"))
        .join(F.broadcast(qe_side), "query_id")
    )
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sim = F.round(dot / (F.col("nq") * F.col("ne")), 6)
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        rer.select("query_id", "neighbor_id", "cell", F.round("adc", 6).alias("adc"),
                   sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cell", "adc", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# q83 — PQ code health: per-(subspace, code) utilization + reconstruction MSE
# ---------------------------------------------------------------------------
#
# The q48 pattern applied to the PQ layer: the report an operator watches to
# decide when to re-fit the codebooks.  Dead codes (utilization 0) waste
# index bits; a code whose members reconstruct badly (high MSE) marks a
# drifted subspace.  256 rows (16 subspaces x 16 codes) at any corpus size.


def _books_lit_spark() -> str:
    return "array(" + ", ".join(_book_lit(s) for s in range(_PQ_M)) + ")"


def _books_lit_duck() -> str:
    subs = []
    for book in _PQ_CODEBOOKS:
        entries = ", ".join(
            "{'cw': [" + ", ".join(f"{x}" for x in cw) + "]::DOUBLE[]}" for cw in book
        )
        subs.append(f"[{entries}]")
    return "[" + ",\n           ".join(subs) + "]"


def _q83_oracle() -> str:
    sc_cols = ",\n           ".join(
        f"{_pq_scores_duck('emb', s)} AS sc{s}" for s in range(_PQ_M)
    )
    codes = "[" + ", ".join(
        f"list_position(sc{s}, list_max(sc{s})) - 1" for s in range(_PQ_M)
    ) + "]"
    err = (
        f"list_sum([(c.emb[u.s * {_PQ_SUB} + i] - b.bk[u.s + 1][c.codes[u.s + 1] + 1].cw[i])"
        f" * (c.emb[u.s * {_PQ_SUB} + i] - b.bk[u.s + 1][c.codes[u.s + 1] + 1].cw[i])"
        f" for i in range(1, {_PQ_SUB + 1})])"
    )
    return f"""
    WITH b AS (
        SELECT {_books_lit_duck()} AS bk
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), sc AS (
        SELECT vec_id, emb,
           {sc_cols}
        FROM e
    ), codes AS (
        SELECT vec_id, emb, {codes} AS codes FROM sc
    ), percode AS (
        SELECT u.s AS subspace, c.codes[u.s + 1] AS code, {err} AS err
        FROM codes c, b, unnest(generate_series(0, {_PQ_M - 1})) AS u(s)
    )
    SELECT CAST(subspace AS INT) AS subspace, CAST(code AS INT) AS code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(err) * 1e6, 2) AS mse_e6
    FROM percode GROUP BY subspace, code
    """


@_register("q83_pq_code_health", oracle=_q83_oracle())
def q83_pq_code_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subspace, code) PQ index health: member count and mean
    reconstruction error (x 1e6, the q41 convention) for every codeword —
    dead codes and high-MSE codes are the re-fit triggers.

    Scale shape: encode is the same narrow all-JVM pass as q78; the
    explode multiplies rows by M=16 but carries only (subspace, code, err)
    — ~20 B/row; the final aggregation has 256 groups.  One exchange."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    sc = e.select(
        "vec_id", "emb",
        *[F.expr(_pq_scores_spark("emb", s)).alias(f"sc{s}") for s in range(_PQ_M)],
    )
    codes_expr = "array(" + ", ".join(
        f"cast(array_position(sc{s}, array_max(sc{s})) - 1 as int)"
        for s in range(_PQ_M)
    ) + ")"
    codes = sc.select("vec_id", "emb", F.expr(codes_expr).alias("codes"))
    err = F.expr(
        f"""aggregate(zip_with(
                slice(emb, s * {_PQ_SUB} + 1, {_PQ_SUB}),
                element_at(element_at({_books_lit_spark()}, s + 1),
                           element_at(codes, s + 1) + 1).cw,
                (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"""
    )
    percode = (
        codes.select(
            "emb", "codes", F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("s")
        )
        .select(
            F.col("s").cast("int").alias("subspace"),
            F.expr("element_at(codes, s + 1)").cast("int").alias("code"),
            err.alias("err"),
        )
    )
    return percode.groupBy("subspace", "code").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("err") * 1e6, 2).alias("mse_e6"),
    )


# ---------------------------------------------------------------------------
# q96 — the PQ code table as a physical index (cell-partitioned parquet)
# ---------------------------------------------------------------------------
#
# The module docstring's "the code table (vec_id, cell, codes) is the
# persistent index artifact" — as code, the q64/q76 pattern: written once
# per session, probed with a literal cell filter (PartitionFilters), ADC
# scored from the STORED codes (the float column exists in the index file
# but the approx scan never reads it — parquet column pruning, pinned by
# tests/test_pq_ann.py), exact re-rank fetching floats only for the
# shortlist.  Registered with q78's oracle: the physical layout must not
# move a single value.

import os as _os
import tempfile as _tempfile

_PQ_BUILT: dict = {}


def pq_index_path(sf_dir: str) -> str:
    base = _os.path.basename(_os.path.normpath(sf_dir))
    return _os.path.join(_tempfile.gettempdir(), f"supermusr_pq_index_{base}.parquet")


def write_pq_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Encode every vector (coarse cell + 16 PQ codes) and write the table
    partitioned by cell — the 8 B/vec scan artifact plus the float column
    that only the re-rank fetch reads."""
    cents, _ = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    d = e.withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
    sc = d.select(
        "vec_id", "emb",
        F.expr(f"element_at({po}, 1)").alias("cell"),
        *[F.expr(_pq_scores_spark("emb", s)).alias(f"sc{s}") for s in range(_PQ_M)],
    )
    codes_expr = "array(" + ", ".join(
        f"cast(array_position(sc{s}, array_max(sc{s})) - 1 as int)"
        for s in range(_PQ_M)
    ) + ")"
    (
        sc.select("vec_id", F.expr(codes_expr).alias("codes"), "emb", "cell")
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(out_path)
    )


@_register("q96_pq_indexed", oracle=_q78_oracle)
def q96_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q78 through the physical PQ index: probes prune cell directories
    via a literal partition filter, ADC reads (vec_id, codes) only, and
    the float column is fetched for the shortlist re-rank alone."""
    path = pq_index_path(sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if not _PQ_BUILT.get(key):
        write_pq_index(spark, sf_dir, path)
        _PQ_BUILT[key] = True

    cents, n_probe = _codebook(sf_dir)
    po = _probe_order_spark(len(cents))
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("emb")
    )
    q = (
        e.filter(F.col("vec_id") % 50 == 0)
        .withColumn("dots", F.expr(_ivf_dots_spark("emb", cents)))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.expr(f"slice({po}, 1, {n_probe})").alias("probe"),
            F.expr(_adc_tables_spark("emb")).alias("tq"),
        )
    )
    qp = q.select("query_id", "tq", F.explode("probe").alias("pcell"))
    probe_cells = sorted({r.pcell for r in qp.select("pcell").distinct().collect()})
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select("vec_id", "codes", F.col("cell").cast("int").alias("cell"))
    )
    adc = (
        F.broadcast(qp)
        .join(index, (index.cell == qp.pcell) & (index.vec_id != qp.query_id))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.expr(_ADC_SUM_SPARK).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    short = adc.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= _pq_shortlist(sf_dir)
    )
    qe_side = q.select("query_id", "qe")
    rer = (
        F.broadcast(short.select("query_id", "neighbor_id", "cell", "adc"))
        .join(e, e.vec_id == F.col("neighbor_id"))
        .join(F.broadcast(qe_side), "query_id")
    )
    dot = F.expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    norm = "sqrt(aggregate(transform({c}, x -> x * x), 0D, (a, x) -> a + x))"
    sim = F.round(dot / (F.expr(norm.format(c="qe")) * F.expr(norm.format(c="emb"))), 6)
    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        rer.select("query_id", "neighbor_id", "cell", F.round("adc", 6).alias("adc"),
                   sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cell", "adc", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# q106 — embedding-distribution drift between corpus halves
# ---------------------------------------------------------------------------
#
# q48/q83 monitor the INDEX (cell balance, code MSE); this monitors the
# DATA: split the corpus into halves by vec_id (standing in for "before /
# after the ingest boundary") and compare the embedding distribution —
# norm quantiles and the mean direction's alignment.  A drifting second
# half is the trigger to re-fit codebooks BEFORE recall decays.


def _q106_oracle() -> str:
    half = "CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END"
    return f"""
    WITH e AS (
        SELECT vec_id, {half} AS half, embedding::DOUBLE[] AS emb FROM embeddings
    ), norms AS (
        SELECT half, sqrt(list_sum([x * x for x in emb])) AS nrm FROM e
    ), lanes AS (
        SELECT half, u.i AS dim, emb[u.i] AS v
        FROM e, unnest(generate_series(1, 64)) AS u(i)
    ), mean_dir AS (
        SELECT half, sqrt(sum(s * s)) AS dn FROM (
            SELECT half, dim, sum(v) / count(*) AS s
            FROM lanes GROUP BY half, dim
        ) GROUP BY half
    )
    SELECT n.half,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(n.nrm), 6) AS mean_norm,
           round(quantile_cont(n.nrm, 0.5), 6) AS p50_norm,
           round(quantile_cont(n.nrm, 0.95), 6) AS p95_norm,
           round(any_value(m.dn), 6) AS mean_dir_norm
    FROM norms n JOIN mean_dir m USING (half)
    GROUP BY n.half
    """


@_register("q106_embedding_drift", oracle=_q106_oracle())
def q106_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift report for the embedding corpus: per half (even/odd
    vec_id — the ingest-boundary stand-in), vector count, norm mean and
    p50/p95 quantiles (exact), and the L2 norm of the mean direction
    (near 0 for isotropic data, growing as a direction bias appears).
    Diverging halves mean the coarse/PQ codebooks were fitted on a
    distribution the corpus no longer follows.

    Scale shape: one narrow pass computes per-row norms; quantiles are
    exact per-group (2 groups); the mean direction is one 64-lane
    aggregate per half — all one shuffle on the 2-value half key."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, "even").otherwise("odd").alias("half"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    nrm = F.expr("sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, x) -> a + x))")
    rows = e.select("half", nrm.alias("nrm"), "emb")
    mu = [
        (F.sum(F.expr(f"element_at(emb, {i})")) / F.count("*")).alias(f"mu{i}")
        for i in range(1, 65)
    ]
    agg = rows.groupBy("half").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
        F.round(F.expr("percentile(nrm, 0.5D)"), 6).alias("p50_norm"),
        F.round(F.expr("percentile(nrm, 0.95D)"), 6).alias("p95_norm"),
        *mu,
    )
    dir_norm = F.sqrt(
        sum(F.col(f"mu{i}") * F.col(f"mu{i}") for i in range(1, 65))
    )
    return agg.select(
        "half", "n_vectors", "mean_norm", "p50_norm", "p95_norm",
        F.round(dir_norm, 6).alias("mean_dir_norm"),
    )


# ---------------------------------------------------------------------------
# q118 — label-centroid audit: per-class embedding outliers
# ---------------------------------------------------------------------------
#
# The labeled-data quality pass a classifier/contrastive training pipeline
# runs before fitting: for every label, the centroid of its member
# embeddings, then every member's cosine to its OWN label's centroid; the
# lowest-cosine members per label are the mislabel / off-distribution
# candidates routed to review (the embedding-space analog of confident-
# learning label audits).  Complements q106 (corpus-level drift) and q83
# (index health) with INSTANCE-level diagnostics.


def _q118_oracle() -> str:
    return """
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), lanes AS (
        SELECT label, u.i AS dim, emb[u.i] AS v
        FROM e, unnest(generate_series(1, 64)) AS u(i)
    ), cent AS (
        SELECT label, list(s ORDER BY dim) AS c FROM (
            SELECT label, dim, sum(v) / count(*) AS s
            FROM lanes GROUP BY label, dim
        ) GROUP BY label
    ), sims AS (
        SELECT e.label, e.vec_id,
               round(list_sum([emb[i] * c[i] for i in range(1, 65)])
                     / (sqrt(list_sum([x * x for x in emb]))
                        * sqrt(list_sum([x * x for x in c]))), 6)
               AS cos_centroid
        FROM e JOIN cent USING (label)
    )
    SELECT label, vec_id, cos_centroid, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY label
                                     ORDER BY cos_centroid ASC, vec_id) AS rank
        FROM sims
    ) WHERE rank <= 5
    """


@_register("q118_label_centroid_audit", oracle=_q118_oracle())
def q118_label_centroid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: each label's centroid (64 per-lane
    mean aggregates, the q106 idiom — no posexplode), then every member's
    cosine to its own centroid, keeping the 5 LOWEST per label — the
    mislabel-candidate review queue.

    Scale shape: the centroid build is one shuffle on the label key into
    a |labels|-row dimension that BROADCASTS back onto the corpus, so the
    scoring pass is narrow; the per-label bottom-5 is a window
    partitioned by label.  At 100 TB the corpus never shuffles — the
    only wide exchange carries one 64-float row per label."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    mu = [
        (F.sum(F.expr(f"element_at(emb, {i})")) / F.count("*")).alias(f"mu{i}")
        for i in range(1, 65)
    ]
    cent = (
        e.groupBy("label")
        .agg(*mu)
        .select("label", F.array(*[f"mu{i}" for i in range(1, 65)]).alias("c"))
    )
    norm = "sqrt(aggregate(transform({v}, x -> x * x), 0D, (a, x) -> a + x))"
    dot = F.expr("aggregate(zip_with(emb, c, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    sims = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id",
        F.round(
            dot / (F.expr(norm.format(v="emb")) * F.expr(norm.format(v="c"))), 6
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), "vec_id")
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("label", "vec_id", "cos_centroid", "rank")
    )
