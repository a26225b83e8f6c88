package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multimodal corpus queries: pure-Scala header codecs (png/bmp/
  * webp/mp3/mp4), pixel featurization, and the media capstone.
  *
  * One slice of [[Queries.all]] — the registry map, oracle pairing,
  * and determinism rules live there; this file only contributes
  * entries. */
private[graft] object MediaQueries {
  import Queries.t

  val all: Seq[(String, Queries.Q, Option[String])] = Seq(

    // Multimodal plumbing: documents' text bytes stand in for media
    // content; decode is the documented stub (java-hashCode dims, not
    // oracle-dialect-expressible), so the deterministic sf0.01 output
    // is pinned as VALUES literals (tools/gen_values_oracle.py).
    ("q52_media_decode", (s: SparkSession, d: String) => {
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
      graft.operators.Multimodal.decodeMeta(media).toDF()
        .orderBy(col("media_id"))
    }, Some("""
      SELECT * FROM (VALUES
        (0, 499, 577, 157),
        (1, 300, 539, 406),
        (2, 739, 733, 246),
        (3, 334, 460, 147),
        (4, 302, 815, 250),
        (5, 1180, 337, 314),
        (6, 866, 646, 78),
        (7, 262, 1008, 402),
        (8, 496, 624, 470),
        (9, 727, 562, 391),
        (10, 1043, 387, 214),
        (11, 1071, 718, 304),
        (12, 1095, 1141, 348),
        (13, 578, 944, 346),
        (14, 909, 461, 495),
        (15, 415, 820, 228),
        (16, 408, 717, 90),
        (17, 981, 705, 426),
        (18, 1057, 825, 423),
        (19, 629, 729, 57),
        (20, 900, 876, 394),
        (21, 750, 1127, 217),
        (22, 395, 962, 454),
        (23, 1229, 1038, 166),
        (24, 326, 435, 535),
        (25, 1195, 805, 505),
        (26, 810, 282, 63),
        (27, 714, 1070, 346),
        (28, 525, 1186, 334),
        (29, 546, 531, 196),
        (30, 710, 755, 167),
        (31, 261, 354, 250),
        (32, 1119, 1043, 513),
        (33, 897, 1162, 247),
        (34, 852, 1102, 165),
        (35, 1178, 1250, 452),
        (36, 602, 958, 135),
        (37, 912, 334, 378),
        (38, 499, 426, 203),
        (39, 975, 868, 124),
        (40, 515, 1261, 421),
        (41, 669, 966, 337),
        (42, 1061, 445, 303),
        (43, 469, 808, 152),
        (44, 1206, 515, 128),
        (45, 696, 407, 432),
        (46, 1234, 358, 492),
        (47, 880, 871, 224),
        (48, 1249, 721, 164),
        (49, 629, 946, 256),
        (50, 471, 932, 256),
        (51, 332, 816, 326),
        (52, 1245, 1082, 63),
        (53, 925, 1228, 190),
        (54, 410, 518, 357),
        (55, 742, 664, 196),
        (56, 1223, 325, 549),
        (57, 422, 942, 447),
        (58, 1197, 805, 389),
        (59, 1140, 1149, 118),
        (60, 866, 954, 493),
        (61, 1187, 520, 309),
        (62, 784, 458, 392),
        (63, 1075, 621, 529),
        (64, 569, 459, 135),
        (65, 428, 708, 99),
        (66, 898, 828, 352),
        (67, 935, 1047, 333),
        (68, 563, 903, 186),
        (69, 262, 448, 308),
        (70, 880, 1200, 509),
        (71, 1277, 534, 336),
        (72, 856, 567, 230),
        (73, 1003, 730, 503),
        (74, 755, 615, 48),
        (75, 1169, 709, 312),
        (76, 704, 988, 382),
        (77, 813, 755, 319),
        (78, 795, 319, 233),
        (79, 865, 832, 63),
        (80, 598, 817, 172),
        (81, 1026, 1244, 357),
        (82, 1127, 885, 260),
        (83, 520, 265, 88),
        (84, 376, 1183, 403),
        (85, 1174, 1193, 155),
        (86, 1099, 665, 138),
        (87, 768, 783, 128),
        (88, 614, 356, 289),
        (89, 437, 259, 141),
        (90, 1086, 566, 112),
        (91, 892, 563, 431),
        (92, 406, 1127, 146),
        (93, 816, 337, 130),
        (94, 476, 334, 143),
        (95, 1077, 745, 296),
        (96, 817, 714, 454),
        (97, 659, 452, 320),
        (98, 276, 619, 526),
        (99, 1139, 1035, 196),
        (100, 422, 1251, 461),
        (101, 830, 1256, 232),
        (102, 1075, 1071, 515),
        (103, 917, 706, 527),
        (104, 831, 529, 246),
        (105, 646, 952, 328),
        (106, 689, 972, 70),
        (107, 567, 783, 212),
        (108, 1247, 827, 86),
        (109, 663, 774, 395),
        (110, 1185, 807, 54),
        (111, 1009, 336, 529),
        (112, 870, 394, 322),
        (113, 409, 302, 428),
        (114, 421, 838, 207),
        (115, 972, 464, 132),
        (116, 1200, 459, 62),
        (117, 983, 820, 246),
        (118, 635, 428, 396),
        (119, 994, 689, 87),
        (120, 584, 1066, 211),
        (121, 853, 1074, 168),
        (122, 933, 433, 102),
        (123, 491, 492, 158),
        (124, 967, 1133, 311),
        (125, 734, 1263, 185),
        (126, 1029, 654, 509),
        (127, 1065, 1060, 434),
        (128, 1248, 431, 455),
        (129, 1125, 521, 439),
        (130, 603, 1133, 150),
        (131, 445, 410, 293),
        (132, 620, 681, 330),
        (133, 877, 1132, 500),
        (134, 289, 685, 132),
        (135, 1058, 1274, 538),
        (136, 929, 952, 334),
        (137, 708, 546, 233),
        (138, 457, 1268, 364),
        (139, 916, 1211, 294),
        (140, 509, 1201, 157),
        (141, 730, 1045, 432),
        (142, 437, 880, 512),
        (143, 658, 914, 411),
        (144, 668, 376, 89),
        (145, 499, 291, 401),
        (146, 1165, 862, 129),
        (147, 1227, 586, 442),
        (148, 441, 1214, 197),
        (149, 567, 898, 157),
        (150, 1092, 840, 274),
        (151, 464, 873, 519),
        (152, 679, 1150, 218),
        (153, 321, 663, 433),
        (154, 938, 568, 443),
        (155, 795, 427, 367),
        (156, 525, 615, 122),
        (157, 846, 669, 91),
        (158, 722, 1131, 106),
        (159, 980, 1059, 379),
        (160, 1067, 980, 246),
        (161, 550, 547, 473),
        (162, 261, 338, 458),
        (163, 327, 676, 257),
        (164, 641, 706, 108),
        (165, 1031, 476, 108),
        (166, 470, 994, 327),
        (167, 788, 1157, 475),
        (168, 374, 739, 228),
        (169, 1107, 696, 398),
        (170, 811, 975, 124),
        (171, 1056, 1177, 328),
        (172, 342, 800, 103),
        (173, 940, 573, 540),
        (174, 781, 1045, 315),
        (175, 800, 677, 158),
        (176, 908, 917, 491),
        (177, 820, 455, 263),
        (178, 312, 702, 214),
        (179, 1038, 936, 484),
        (180, 1152, 366, 185),
        (181, 1011, 308, 109),
        (182, 337, 749, 343),
        (183, 562, 497, 99),
        (184, 596, 261, 441),
        (185, 898, 1105, 305),
        (186, 1201, 956, 413),
        (187, 1018, 261, 497),
        (188, 331, 781, 246),
        (189, 1099, 874, 207),
        (190, 604, 972, 428),
        (191, 317, 733, 118),
        (192, 1039, 938, 132),
        (193, 962, 1010, 168),
        (194, 1254, 547, 156),
        (195, 307, 1088, 318),
        (196, 787, 1056, 339),
        (197, 271, 324, 522),
        (198, 778, 377, 254),
        (199, 583, 1053, 154),
        (200, 869, 721, 303),
        (201, 1153, 739, 315),
        (202, 1160, 977, 481),
        (203, 1256, 381, 128),
        (204, 687, 569, 117),
        (205, 1096, 664, 376),
        (206, 430, 1248, 130),
        (207, 481, 1083, 385),
        (208, 462, 334, 115),
        (209, 518, 1049, 223),
        (210, 1099, 1153, 515),
        (211, 1083, 789, 279),
        (212, 826, 782, 254),
        (213, 518, 401, 467),
        (214, 1088, 435, 69),
        (215, 462, 529, 527),
        (216, 793, 792, 529),
        (217, 1158, 608, 350),
        (218, 899, 841, 455),
        (219, 686, 1222, 175),
        (220, 1121, 1009, 553),
        (221, 300, 607, 221),
        (222, 1068, 736, 261),
        (223, 848, 603, 459),
        (224, 569, 619, 442),
        (225, 644, 1275, 419),
        (226, 1224, 1133, 109),
        (227, 287, 1032, 468),
        (228, 764, 642, 464),
        (229, 834, 1222, 409),
        (230, 526, 1121, 311),
        (231, 1127, 406, 155),
        (232, 278, 395, 316),
        (233, 918, 468, 458),
        (234, 1049, 1274, 344),
        (235, 969, 1184, 224),
        (236, 856, 859, 62),
        (237, 1063, 962, 416),
        (238, 981, 393, 257),
        (239, 1080, 363, 164),
        (240, 1265, 615, 380),
        (241, 693, 465, 511),
        (242, 1120, 675, 388),
        (243, 365, 1208, 178),
        (244, 764, 677, 371),
        (245, 689, 1052, 466),
        (246, 1149, 1264, 175),
        (247, 1203, 824, 430),
        (248, 741, 1247, 446),
        (249, 282, 911, 431),
        (250, 1273, 1248, 247),
        (251, 603, 920, 523),
        (252, 928, 954, 252),
        (253, 1181, 706, 197),
        (254, 633, 963, 103),
        (255, 1121, 775, 157),
        (256, 354, 618, 62),
        (257, 584, 294, 114),
        (258, 703, 524, 396),
        (259, 431, 1206, 259),
        (260, 1125, 1001, 134),
        (261, 1243, 378, 472),
        (262, 980, 523, 256),
        (263, 995, 544, 447),
        (264, 704, 289, 544),
        (265, 903, 1239, 268),
        (266, 583, 528, 225),
        (267, 390, 618, 424),
        (268, 264, 416, 216),
        (269, 1183, 749, 467),
        (270, 960, 432, 499),
        (271, 1253, 1116, 295),
        (272, 629, 753, 486),
        (273, 335, 944, 157),
        (274, 1229, 574, 537),
        (275, 1102, 852, 49),
        (276, 990, 1111, 538),
        (277, 365, 682, 163),
        (278, 377, 718, 394),
        (279, 993, 920, 281),
        (280, 1218, 989, 470),
        (281, 469, 308, 171),
        (282, 465, 1064, 178),
        (283, 636, 740, 471),
        (284, 1076, 752, 278),
        (285, 989, 1170, 512),
        (286, 361, 669, 258),
        (287, 828, 449, 101),
        (288, 930, 900, 176),
        (289, 1075, 775, 224),
        (290, 1227, 548, 530),
        (291, 295, 704, 417),
        (292, 630, 293, 458),
        (293, 372, 1197, 385),
        (294, 570, 1110, 470),
        (295, 926, 1075, 186),
        (296, 1121, 1271, 359),
        (297, 891, 799, 322),
        (298, 681, 1141, 189),
        (299, 287, 899, 502),
        (300, 769, 324, 216),
        (301, 258, 359, 508),
        (302, 936, 545, 484),
        (303, 322, 401, 454),
        (304, 685, 278, 219),
        (305, 1111, 498, 63),
        (306, 663, 302, 421),
        (307, 320, 748, 302),
        (308, 568, 914, 97),
        (309, 370, 918, 238),
        (310, 833, 957, 148),
        (311, 379, 755, 495),
        (312, 941, 397, 369),
        (313, 498, 472, 87),
        (314, 1149, 580, 190),
        (315, 1224, 565, 460),
        (316, 686, 1237, 407),
        (317, 897, 627, 408),
        (318, 1217, 1152, 456),
        (319, 1094, 752, 513),
        (320, 1058, 315, 405),
        (321, 461, 299, 292),
        (322, 1205, 360, 255),
        (323, 1205, 1231, 331),
        (324, 837, 1042, 228),
        (325, 974, 1244, 328),
        (326, 314, 1181, 198),
        (327, 330, 363, 181),
        (328, 1004, 1051, 495),
        (329, 968, 1096, 353),
        (330, 502, 350, 316),
        (331, 341, 743, 300),
        (332, 1257, 940, 207),
        (333, 1160, 905, 177),
        (334, 752, 370, 484),
        (335, 1256, 554, 325),
        (336, 631, 1049, 376),
        (337, 796, 389, 242),
        (338, 1245, 843, 91),
        (339, 1081, 902, 187),
        (340, 513, 409, 247),
        (341, 981, 1048, 427),
        (342, 965, 641, 116),
        (343, 477, 1051, 155),
        (344, 1214, 1027, 417),
        (345, 300, 655, 323),
        (346, 1195, 1252, 409),
        (347, 1112, 327, 282),
        (348, 470, 774, 131),
        (349, 914, 887, 457),
        (350, 468, 385, 467),
        (351, 1224, 541, 368),
        (352, 343, 647, 536),
        (353, 800, 1135, 315),
        (354, 974, 446, 426),
        (355, 1047, 881, 353),
        (356, 723, 434, 359),
        (357, 571, 881, 253),
        (358, 375, 1035, 59),
        (359, 356, 435, 328),
        (360, 1271, 626, 443),
        (361, 537, 567, 363),
        (362, 1047, 892, 81),
        (363, 683, 288, 357),
        (364, 735, 1276, 270),
        (365, 938, 895, 67),
        (366, 683, 1165, 311),
        (367, 496, 925, 213),
        (368, 1106, 439, 73),
        (369, 826, 463, 273),
        (370, 624, 703, 246),
        (371, 287, 736, 350),
        (372, 353, 479, 142),
        (373, 914, 1217, 388),
        (374, 515, 1239, 182),
        (375, 1196, 409, 343),
        (376, 1045, 382, 367),
        (377, 377, 1272, 234),
        (378, 1147, 491, 337),
        (379, 338, 964, 403),
        (380, 784, 1044, 443),
        (381, 493, 650, 353),
        (382, 466, 574, 132),
        (383, 412, 1021, 254),
        (384, 1266, 284, 92),
        (385, 672, 374, 399),
        (386, 1270, 1042, 471),
        (387, 790, 594, 208),
        (388, 1265, 638, 345),
        (389, 1250, 630, 152),
        (390, 415, 267, 137),
        (391, 639, 777, 238),
        (392, 1258, 319, 135),
        (393, 388, 944, 465),
        (394, 551, 932, 404),
        (395, 1094, 1279, 479),
        (396, 459, 509, 248),
        (397, 723, 559, 294),
        (398, 1085, 550, 105),
        (399, 690, 1149, 309),
        (400, 945, 853, 134),
        (401, 486, 1267, 438),
        (402, 531, 425, 160),
        (403, 869, 1076, 473),
        (404, 291, 405, 221),
        (405, 663, 582, 314),
        (406, 1134, 1170, 460),
        (407, 490, 977, 108),
        (408, 899, 999, 87),
        (409, 553, 1270, 273),
        (410, 442, 864, 413),
        (411, 774, 752, 411),
        (412, 300, 380, 365),
        (413, 1191, 504, 428),
        (414, 1079, 462, 408),
        (415, 1195, 549, 313),
        (416, 1179, 926, 287),
        (417, 849, 614, 520),
        (418, 421, 1067, 439),
        (419, 318, 1164, 114),
        (420, 987, 398, 461),
        (421, 1216, 264, 460),
        (422, 592, 373, 365),
        (423, 999, 629, 363),
        (424, 738, 857, 409),
        (425, 981, 794, 131),
        (426, 1214, 1258, 452),
        (427, 605, 1224, 420),
        (428, 954, 660, 279),
        (429, 851, 923, 537),
        (430, 424, 1011, 399),
        (431, 1024, 1081, 307),
        (432, 801, 752, 359),
        (433, 500, 462, 176),
        (434, 731, 1020, 423),
        (435, 478, 583, 167),
        (436, 542, 960, 277),
        (437, 891, 359, 440),
        (438, 1143, 816, 172),
        (439, 1270, 961, 184),
        (440, 454, 277, 243),
        (441, 868, 823, 542),
        (442, 895, 731, 455),
        (443, 1116, 718, 280),
        (444, 1149, 1042, 419),
        (445, 615, 473, 307),
        (446, 619, 683, 132),
        (447, 305, 684, 505),
        (448, 984, 1080, 286),
        (449, 635, 938, 177),
        (450, 501, 716, 142),
        (451, 982, 282, 112),
        (452, 1167, 1187, 358),
        (453, 760, 790, 519),
        (454, 921, 301, 153),
        (455, 393, 762, 59),
        (456, 1262, 884, 114),
        (457, 933, 787, 202),
        (458, 1219, 285, 323),
        (459, 407, 487, 376),
        (460, 281, 306, 261),
        (461, 972, 669, 372),
        (462, 1246, 708, 327),
        (463, 452, 823, 491),
        (464, 323, 499, 204),
        (465, 553, 381, 320),
        (466, 781, 669, 471),
        (467, 1046, 708, 360),
        (468, 1091, 959, 207),
        (469, 729, 706, 57),
        (470, 1087, 680, 232),
        (471, 1242, 277, 335),
        (472, 726, 414, 208),
        (473, 555, 356, 293),
        (474, 1002, 807, 356),
        (475, 585, 956, 77),
        (476, 1010, 611, 84),
        (477, 926, 454, 151),
        (478, 359, 1275, 290),
        (479, 857, 1258, 389),
        (480, 306, 683, 359),
        (481, 1200, 1006, 85),
        (482, 898, 764, 165),
        (483, 312, 1257, 245),
        (484, 1105, 890, 221),
        (485, 847, 492, 129),
        (486, 1213, 1251, 171),
        (487, 324, 522, 321),
        (488, 852, 583, 205),
        (489, 746, 829, 317),
        (490, 455, 439, 271),
        (491, 667, 570, 368),
        (492, 1080, 565, 77),
        (493, 1072, 1252, 465),
        (494, 477, 961, 206),
        (495, 784, 828, 384),
        (496, 395, 276, 457),
        (497, 1178, 769, 123),
        (498, 831, 756, 485),
        (499, 969, 732, 166)
      ) AS t(media_id, width, height, n_bytes)
      ORDER BY media_id""")),


    // REAL image decode (Multimodal.ImageCodec over javax.imageio,
    // L14): each document row becomes a deterministic single-color
    // image — dimensions from doc_id arithmetic, format cycling
    // jpeg/png/gif, every 10th-with-7 row corrupted to raw text bytes
    // — encoded executor-side with the real ImageIO writers, then
    // decoded back by the header-only reader. The oracle replays the
    // dimension arithmetic; corrupt rows must come back null-decoded,
    // not as task failures. The encode→decode round-trip is what makes
    // the decode REAL: the reader parses actual PNG/JFIF/GIF headers.
    ("q116_image_decode", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else {
              val w = (8 + id % 32).toInt
              val h = (8 + (id * 7) % 32).toInt
              val fmt = (id % 3).toInt match {
                case 0 => "jpg"; case 1 => "png"; case _ => "gif"
              }
              Multimodal.ImageCodec.encode(w, h,
                ((id * 2654435761L) & 0xFFFFFFL).toInt, fmt)
            }
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeImageMeta(media)
        .select(col("media_id"), col("format"), col("width"), col("height"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             WHEN doc_id % 3 = 0 THEN 'jpeg'
             WHEN doc_id % 3 = 1 THEN 'png'
             ELSE 'gif' END AS format,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(8 + doc_id % 32 AS INT) END AS width,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(8 + (doc_id * 7) % 32 AS INT) END AS height
      FROM documents WHERE doc_id < 60 ORDER BY media_id""")),


    // Real audio metadata decode (Multimodal.AudioCodec, the q116
    // pattern for sound): executor-side WAV encode → header-only
    // decode round-trip. Rate/channels/frames come from doc_id
    // arithmetic; every doc_id%10==7 row carries text bytes that must
    // null-decode (corrupt media is data, not a failure). The oracle
    // recomputes channels, rate, frame count, and the floored
    // duration from the same arithmetic — the codec's output must
    // land exactly on the derivation.
    ("q124_audio_decode", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else {
              val rate = (id % 3).toInt match {
                case 0 => 8000; case 1 => 16000; case _ => 44100
              }
              Multimodal.AudioCodec.encode(rate,
                (1 + id % 2).toInt, (200 + (id * 13) % 500).toInt)
            }
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeAudioMeta(media)
        .select(col("media_id"), col("encoding"), col("channels"),
          col("sample_rate"), col("n_frames"), col("duration_ms"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'pcm_signed' END AS encoding,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             WHEN doc_id % 3 = 0 THEN CAST(8000 AS INT)
             WHEN doc_id % 3 = 1 THEN CAST(16000 AS INT)
             ELSE CAST(44100 AS INT) END AS sample_rate,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(200 + (doc_id * 13) % 500 AS BIGINT) END AS n_frames,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             WHEN doc_id % 3 = 0
               THEN CAST((200 + (doc_id * 13) % 500) * 1000 // 8000 AS BIGINT)
             WHEN doc_id % 3 = 1
               THEN CAST((200 + (doc_id * 13) % 500) * 1000 // 16000 AS BIGINT)
             ELSE CAST((200 + (doc_id * 13) % 500) * 1000 // 44100 AS BIGINT)
             END AS duration_ms
      FROM documents WHERE doc_id < 60 ORDER BY media_id""")),


    // Real multi-frame decode + frame-sample planning (Multimodal.
    // decodeFrameMeta over ImageCodec.decodeFrames): executor-side
    // animated-GIF encode → REAL frame-count decode, then every-3rd-
    // frame sampling as a sequence-explode — the video half of the
    // media family. Frames/dims come from doc_id arithmetic; every
    // doc_id%10==3 row carries text bytes that must null-decode and
    // produce NO sample rows. The oracle recomputes frame counts and
    // the sampled indices from the same arithmetic.
    ("q130_video_frames", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 3) Option(text).getOrElse("").getBytes("UTF-8")
            else Multimodal.ImageCodec.encodeAnimated(
              (16 + (id % 5) * 8).toInt, (16 + (id % 3) * 8).toInt,
              (1 + id % 7).toInt)
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeFrameMeta(media)
        .filter(col("n_frames").isNotNull)
        .select(col("media_id"), col("width"), col("height"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(3))).as("frame_idx"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
          CAST(16 + (doc_id % 5) * 8 AS INT) AS width,
          CAST(16 + (doc_id % 3) * 8 AS INT) AS height,
          CAST(1 + doc_id % 7 AS INT) AS n_frames
        FROM documents WHERE doc_id < 60 AND doc_id % 10 <> 3)
      SELECT media_id, width, height, n_frames,
        CAST(u.f AS INT) AS frame_idx
      FROM m, unnest(generate_series(0, n_frames - 1, 3)) AS u(f)
      ORDER BY media_id, frame_idx""")),


    // REAL pixel featurizer (ImageCodec.pixelFeatures — rasterized
    // color-histogram embedding, the retirement of the hash-stub
    // forward pass): each row becomes a flat-color image whose color
    // CLASS is doc_id % 5, in a container cycling png/bmp (both
    // lossless, so the histogram is exact and format-invariant) at
    // per-id sizes (the histogram normalizes size away); every
    // id%10==7 row is corrupt text bytes → null embedding. Clustering
    // through the LSH-bucketed near-dup join must pair EXACTLY the
    // same-color rows — the oracle derives every pair from the class
    // arithmetic alone.
    ("q149_pixel_features", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.{Multimodal, Similarity}
      val palette = Array(0x000000, 0xFF0000, 0x00FF00, 0x0000FF, 0xFFFF00)
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else Multimodal.ImageCodec.encode(
              (8 + id % 16).toInt, (8 + (id * 3) % 16).toInt,
              palette((id % 5).toInt),
              if (id % 2 == 0) "png" else "bmp")
          (id, content)
        }).toDF("media_id", "content")
      val feats = Multimodal.extractFeatures(media, bins = 4).toDF()
      val vecs = feats.filter(col("embedding").isNotNull)
        .select(col("media_id").as("id"), col("embedding").as("vec"))
      Similarity.nearDupPairs(vecs, "id", "vec", threshold = 0.999)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, 1.0 AS cosine
      FROM documents l JOIN documents r
        ON l.doc_id < r.doc_id AND l.doc_id % 5 = r.doc_id % 5
      WHERE l.doc_id < 60 AND r.doc_id < 60
        AND l.doc_id % 10 <> 7 AND r.doc_id % 10 <> 7
      ORDER BY id_a, id_b""")),


    // MP3 frame-header decode (Mp3Codec — the q124 pattern for the
    // container audio corpora actually hold): CBR fixtures at
    // id-arithmetic rates/channels/frame counts, every 3rd row behind
    // an ID3v2 tag that must be skipped by syncsafe size, id%10==7
    // rows corrupt. The oracle recomputes version, channel count,
    // rate, frame count, and floored duration from the arithmetic.
    ("q150_mp3_decode", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else {
              val rate = (id % 3).toInt match {
                case 0 => 44100; case 1 => 48000; case _ => 32000
              }
              Multimodal.Mp3Codec.encode(rate, (1 + id % 2).toInt,
                (20 + (id * 11) % 40).toInt,
                id3Payload = if (id % 3 == 0) (100 + id * 7 % 200).toInt else 0)
            }
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeMp3Meta(media)
        .select(col("media_id"), col("version"), col("channels"),
          col("sample_rate"), col("bitrate_kbps"), col("n_frames"),
          col("duration_ms"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'mpeg1' END AS version,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             WHEN doc_id % 3 = 0 THEN CAST(44100 AS INT)
             WHEN doc_id % 3 = 1 THEN CAST(48000 AS INT)
             ELSE CAST(32000 AS INT) END AS sample_rate,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(128 AS INT) END AS bitrate_kbps,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(20 + (doc_id * 11) % 40 AS BIGINT) END AS n_frames,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             WHEN doc_id % 3 = 0
               THEN CAST((20 + (doc_id * 11) % 40) * 1152 * 1000 // 44100 AS BIGINT)
             WHEN doc_id % 3 = 1
               THEN CAST((20 + (doc_id * 11) % 40) * 1152 * 1000 // 48000 AS BIGINT)
             ELSE CAST((20 + (doc_id * 11) % 40) * 1152 * 1000 // 32000 AS BIGINT)
             END AS duration_ms
      FROM documents WHERE doc_id < 60 ORDER BY media_id""")),


    // MP4 box-walk decode (Mp4Codec — ISO BMFF structure, the video
    // metadata pass): fixtures with id-arithmetic timescale/duration
    // and 16.16 track dims, every id%4==1 row audio-only-shaped (zero
    // dims → null width/height), id%10==7 corrupt. Oracle recomputes
    // the floored millisecond duration and dims from the arithmetic.
    ("q151_mp4_decode", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else {
              val ts = (600 + (id % 4) * 300).toInt
              val dur = 1000L + (id * 97) % 5000
              if (id % 4 == 1) Multimodal.Mp4Codec.encode(ts, dur, 0, 0)
              else Multimodal.Mp4Codec.encode(ts, dur,
                (320 + (id % 8) * 16).toInt, (180 + (id % 6) * 30).toInt)
            }
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeMp4Meta(media)
        .select(col("media_id"), col("brand"), col("timescale"),
          col("duration_ms"), col("width"), col("height"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'isom' END AS brand,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(600 + (doc_id % 4) * 300 AS BIGINT) END AS timescale,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST((1000 + (doc_id * 97) % 5000) * 1000
               // (600 + (doc_id % 4) * 300) AS BIGINT) END AS duration_ms,
        CASE WHEN doc_id % 10 = 7 OR doc_id % 4 = 1 THEN NULL
             ELSE CAST(320 + (doc_id % 8) * 16 AS INT) END AS width,
        CASE WHEN doc_id % 10 = 7 OR doc_id % 4 = 1 THEN NULL
             ELSE CAST(180 + (doc_id % 6) * 30 AS INT) END AS height
      FROM documents WHERE doc_id < 60 ORDER BY media_id""")),


    // WebP header decode (ImageCodec.webpDims — the pure-Scala RIFF
    // fallback behind decodeDims; the JDK has no WebP reader and real
    // web corpora are full of it). VP8L fixtures with 14-bit dims from
    // doc_id arithmetic, id%10==7 rows corrupt text bytes → nulls.
    ("q154_webp_decode", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.Multimodal
      val media = t(s, d, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val content =
            if (id % 10 == 7) Option(text).getOrElse("").getBytes("UTF-8")
            else Multimodal.ImageCodec.encodeWebP(
              (16 + id % 1000).toInt, (16 + (id * 13) % 1000).toInt)
          (id, content)
        }).toDF("media_id", "content")
      Multimodal.decodeImageMeta(media)
        .select(col("media_id"), col("format"), col("width"), col("height"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'webp' END AS format,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(16 + doc_id % 1000 AS INT) END AS width,
        CASE WHEN doc_id % 10 = 7 THEN NULL
             ELSE CAST(16 + (doc_id * 13) % 1000 AS INT) END AS height
      FROM documents WHERE doc_id < 60 ORDER BY media_id""")),


    // End-to-end MEDIA CORPUS capstone — the round-8 codec/featurizer
    // pieces composed the way a real multimodal ingest runs, in ONE
    // declarative plan: mixed png/bmp/webp/mp3/mp4/corrupt corpus →
    // header-only metadata per claimed modality → exact content dedup
    // (png fixtures repeat bytes across id%20 groups) → pixel-feature
    // near-dup clusters spanning CONTAINERS (png and bmp of one color
    // are distinct bytes but identical rasters) → width/duration
    // quality gate → atomic snapshot commit, read back. The oracle
    // derives every stage — formats, dims, durations, dedup winners,
    // cluster representatives, gate outcomes — from id arithmetic
    // alone; no hash or wall-clock reaches the output.
    ("q161_media_capstone", (s: SparkSession, d: String) => {
      import s.implicits._
      import graft.operators.{Multimodal, Similarity}
      import graft.sinks.SnapshotStore
      val palette = Array(0x000000, 0xFF0000, 0x00FF00, 0x0000FF)
      val media = t(s, d, "documents").filter(col("doc_id") < 90)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val content: Array[Byte] =
            if (id % 9 == 7) s"corrupt_$id".getBytes("UTF-8")
            else (id % 5) match {
              case 0 => Multimodal.ImageCodec.encode(
                (8 + id % 20).toInt, 12, palette(((id % 20) / 5).toInt), "png")
              case 1 => Multimodal.ImageCodec.encode(
                (8 + id).toInt, 10, palette((id % 4).toInt), "bmp")
              case 2 => Multimodal.ImageCodec.encodeWebP(
                (16 + id).toInt, (16 + (id * 13) % 200).toInt)
              case 3 =>
                val rate = (id % 3) match {
                  case 0 => 44100; case 1 => 48000; case _ => 32000
                }
                Multimodal.Mp3Codec.encode(rate, (1 + id % 2).toInt,
                  (20 + (id * 11) % 40).toInt,
                  id3Payload = if (id % 3 == 0) 64 else 0)
              case _ =>
                val ts = (600 + (id % 4) * 300).toInt
                val dur = 1000L + (id * 97) % 5000
                if (id % 4 == 1) Multimodal.Mp4Codec.encode(ts, dur, 0, 0)
                else Multimodal.Mp4Codec.encode(ts, dur,
                  (320 + (id % 8) * 16).toInt, (180 + (id % 6) * 30).toInt)
            }
          val mtype = (id % 5) match {
            case 0 | 1 | 2 => "image"; case 3 => "audio"; case _ => "video"
          }
          (id, mtype, content)
        }).toDF("media_id", "media_type", "content")
      // Stage 1: header-only metadata, one decoder per claimed
      // modality (corrupt rows claim a type and fail decode → null fmt).
      val img = Multimodal.decodeImageMeta(
          media.filter(col("media_type") === "image")).toDF()
        .select(col("media_id"), col("format").as("fmt"),
          col("width"), col("height"),
          lit(null).cast("bigint").as("duration_ms"))
      val aud = Multimodal.decodeMp3Meta(
          media.filter(col("media_type") === "audio")).toDF()
        .select(col("media_id"),
          when(col("version").isNotNull, lit("mp3")).as("fmt"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          col("duration_ms"))
      val vid = Multimodal.decodeMp4Meta(
          media.filter(col("media_type") === "video")).toDF()
        .select(col("media_id"),
          when(col("brand").isNotNull, lit("mp4")).as("fmt"),
          col("width"), col("height"), col("duration_ms"))
      val meta = img.unionByName(aud).unionByName(vid)
      // Stage 2: exact content dedup over decodable rows.
      val withSha = media.join(meta, Seq("media_id"))
        .filter(col("fmt").isNotNull)
        .withColumn("sha", Multimodal.contentHash(col("content")))
      val keep = withSha.groupBy(col("sha")).agg(min(col("media_id")).as("keep_id"))
      val survivors = withSha.join(keep, Seq("sha"))
        .filter(col("media_id") === col("keep_id"))
      // Stage 3: near-dup clusters over rasterizable survivors —
      // cliques, so each row's representative is its smallest paired
      // neighbor (or itself for the clique minimum).
      val feats = Multimodal.extractFeatures(
          survivors.select(col("media_id"), col("content"))).toDF()
        .filter(col("embedding").isNotNull)
      val pairs = Similarity.nearDupPairs(
        feats, "media_id", "embedding", threshold = 0.999)
      val reps = feats.select(col("media_id").as("rep_of"))
        .join(pairs.groupBy(col("id_b")).agg(min(col("id_a")).as("min_a")),
          col("rep_of") === col("id_b"), "left")
        .select(col("rep_of"), coalesce(col("min_a"), col("rep_of")).as("near_rep"))
      // Stage 4: quality gate (min width for images, positive duration
      // for time media), then Stage 5: one atomic snapshot commit.
      val gated = survivors
        .join(reps, survivors("media_id") === reps("rep_of"), "left")
        .filter((col("width").isNull || col("width") >= 10) &&
          (col("duration_ms").isNull || col("duration_ms") > 0))
        .select(col("media_id"), col("media_type"), col("fmt"),
          col("width"), col("height"), col("duration_ms"), col("near_rep"))
      val root = DevRun.fixtureRoot("q161_store") + "/t"
      SnapshotStore.commit(s, gated, root, "media_type")
      SnapshotStore.read(s, root)
        .select(col("media_id"), col("fmt"), col("width"), col("height"),
          col("duration_ms"), col("near_rep"))
        .orderBy(col("media_id"))
    }, Some("""
      WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 90),
      surv AS (
        SELECT id FROM ids
        WHERE id % 9 <> 7 AND (id % 5 <> 0 OR id < 20)),
      feat AS (
        SELECT id,
          CASE WHEN id % 5 = 0 THEN (id % 20) // 5 ELSE id % 4 END AS cls
        FROM surv WHERE id % 5 IN (0, 1)),
      final AS (
        SELECT s.id,
          CASE s.id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
            WHEN 2 THEN 'webp' WHEN 3 THEN 'mp3' ELSE 'mp4' END AS fmt,
          CASE WHEN s.id % 5 = 0 THEN 8 + s.id % 20
               WHEN s.id % 5 = 1 THEN 8 + s.id
               WHEN s.id % 5 = 2 THEN 16 + s.id
               WHEN s.id % 5 = 4 AND s.id % 4 <> 1 THEN 320 + (s.id % 8) * 16
               ELSE NULL END AS width,
          CASE WHEN s.id % 5 = 0 THEN 12
               WHEN s.id % 5 = 1 THEN 10
               WHEN s.id % 5 = 2 THEN 16 + (s.id * 13) % 200
               WHEN s.id % 5 = 4 AND s.id % 4 <> 1 THEN 180 + (s.id % 6) * 30
               ELSE NULL END AS height,
          CASE WHEN s.id % 5 = 3 THEN
                 (20 + (s.id * 11) % 40) * 1152 * 1000 //
                   (CASE s.id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                     ELSE 32000 END)
               WHEN s.id % 5 = 4 THEN
                 (1000 + (s.id * 97) % 5000) * 1000 // (600 + (s.id % 4) * 300)
               ELSE NULL END AS duration_ms,
          (SELECT min(f2.id) FROM feat f2
            WHERE f2.cls = (SELECT f1.cls FROM feat f1 WHERE f1.id = s.id)
          ) AS near_rep
        FROM surv s)
      SELECT id AS media_id, fmt, CAST(width AS INT) AS width,
        CAST(height AS INT) AS height, CAST(duration_ms AS BIGINT) AS duration_ms,
        CAST(near_rep AS BIGINT) AS near_rep
      FROM final
      WHERE (width IS NULL OR width >= 10)
      ORDER BY media_id"""))
  )
}
